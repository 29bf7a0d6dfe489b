"""Deduplication operators (SURVEY §2.11 / BASELINE north star) over the
`documents` table, with DuckDB oracles.

Design for 100 TB: the brute-force pair ops (`ext_dedup_ngram_jaccard`,
`ext_dedup_embedding`) are the small-corpus baselines/oracles; the scale
paths are `ext_dedup_minhash` (LSH banding: candidates come from a
band-bucket shuffle, never a cross join) and `ext_dedup_simhash`
(constant-size fingerprints). All hashing uses md5-derived integers so the
DuckDB oracle can reproduce the exact same signatures — the LSH pipeline is
hash-checked end to end, not just row-counted.

Near-dup similarity is defined over word 5-gram SHINGLE sets, not single
tokens: shingles keep LSH discriminative even on low-entropy corpora (a
tiny vocabulary makes almost all single-token minhashes collide, which
degenerates band buckets toward the full cross product).

Everything is built-in JVM expressions (no Python UDFs).
"""

from __future__ import annotations

import warnings

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from relational_to_doc_oriented_nosql_migrator_spark.operators.common import (
    footer_rows,
    t,
)
from relational_to_doc_oriented_nosql_migrator_spark.operators.text import (
    SQL_TOKENS,
    tokens_col,
)

SHINGLE_K = 5        # word n-gram shingle width
N_PERM = 64          # OPH signature bins (one min-hash per bin)
N_BANDS = 16         # bands of 4 rows each
JACCARD_THRESHOLD = 0.95
COSINE_THRESHOLD = 0.99

# Driver-visibility floor for the two embedding-dedup ops (r08 verdict
# #4): the driver-generated testdata is ISOTROPIC at every shipped SF
# (max pairwise cosine 0.48 / 0.51 / 0.60 at sf0.001 / 0.01 / 0.1,
# DuckDB brute force), so the 0.99 near-dup threshold is VACUOUS there —
# the driver's hash row matched on 0 = 0 rows, proving nothing about the
# cosine math. Below the planted-family scale both ops report the tail
# of the cosine distribution instead (0.4 -> 59 pairs at the sf0.01
# driver scale, 920 at sf0.1), making the hard signal a real value
# comparison; the gen_scale_data corpora (>= 20k vectors, planted
# near-dup families) keep the 0.99 near-dup semantics unchanged. The
# switch is the SAME corpus bound lsh_k() widens K at
# (LSH_TARGET_POP * 2^LSH_K = 2048 vectors), so every floor-threshold
# corpus is also a K-floor corpus; oracles render through
# dedup_cosine_threshold in lockstep (SCALED_ORACLES below). In the
# floor band the LSH path's recall is candidate-bounded BY DESIGN
# (per-table collision at cos 0.4 is ~0.16, union ~0.88) — its oracle
# mirrors candidate generation, so engine-vs-oracle equality stays
# exact, and tests pin recall 1 only for the >= COSINE_THRESHOLD band.
COSINE_FLOOR_THRESHOLD = 0.4


def dedup_cosine_threshold(n_vectors: int) -> float:
    from relational_to_doc_oriented_nosql_migrator_spark.operators.similarity import (
        LSH_K,
        LSH_TARGET_POP,
    )

    if n_vectors <= LSH_TARGET_POP * (2 ** LSH_K):
        return COSINE_FLOOR_THRESHOLD
    return COSINE_THRESHOLD

# One-permutation hashing (OPH, Li/Owen/Zhang 2012): each shingle is
# md5-hashed ONCE and assigned to bin h mod N_PERM; signature j is the min
# hash in bin j (NULL when the bin is empty — small docs fill few bins).
# Cost is O(|shingles| log |shingles|) per doc (one sort + one run scan)
# versus O(N_PERM * |shingles|) for a k-permutation family — measured 2.8x
# faster at sf0.1, and the gap widens with N_PERM. Empty bins stay NULL
# and band keys encode them with an explicit placeholder: that only shapes
# CANDIDATE generation (same-pattern docs still collide); precision is
# unaffected because every candidate passes the exact-Jaccard verify, and
# recall at the 0.95 threshold is pinned equal to brute force in
# tests/test_dedup_soundness.py.
MERSENNE_P = 2_147_483_647  # 2^31 - 1 (hash range reducer, shared w/ oracle)
_BIN_SHIFT = 1 << 31  # bin-major sort key multiplier: (h % N_PERM) * S + h

# Distinct word 5-gram shingles of the whitespace-token stream (documents
# shorter than K tokens contribute their single sub-K shingle).
_SHINGLES_EXPR = (
    f"array_distinct(transform(sequence(1, greatest(size(tk) -"
    f" {SHINGLE_K - 1}, 1)), i -> concat_ws(' ', slice(tk, i, {SHINGLE_K}))))"
)
SQL_SHINGLES = (
    f"list_distinct([array_to_string(tk[i:i+{SHINGLE_K - 1}], ' ')"
    f" for i in generate_series(1, greatest(len(tk) - {SHINGLE_K - 1}, 1))])"
)
SQL_TK = f"SELECT doc_id, {SQL_TOKENS} AS tk FROM documents"


def shingles_from(docs_tk):
    """(doc_id, sh) word-5-gram shingle frame from a pre-tokenized
    (doc_id, ..., tk) frame — lets pipelines tokenize once. The input is
    expected to already be partitioned at full parallelism (curation's
    persisted frame is; `_shingle_df` spreads the raw scan)."""
    return docs_tk.select("doc_id", F.expr(_SHINGLES_EXPR).alias("sh"))


def _shingle_df(spark, sf_dir):
    """Shingles from the raw corpus. The repartition sits at the NARROW
    point — the (doc_id, text) scan — BEFORE tokenize/shingle/hash project:
    `select(expensive).repartition(n)` keeps the projection below the
    exchange (it runs in the input file layout, 1 task for a 1-file
    corpus); `repartition(n).select(expensive)` is the layout-independent
    order. Verified via explain: the Project must sit above the Exchange."""
    docs = _spread(spark, t(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ))
    return shingles_from(
        docs.select("doc_id", tokens_col(F.col("text")).alias("tk"))
    )


def _spread(spark, df):
    """Repartition ahead of CPU-heavy per-row signature expressions.

    Sized to the session's parallelism, not the input file layout: a corpus
    that arrives as few large (or one small) parquet files would otherwise
    pin the whole signature computation to a handful of cores.
    """
    return df.repartition(spark.sparkContext.defaultParallelism)


def q_ext_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on md5 of whitespace-normalized lowercase
    text, representative = min(doc_id)."""
    docs = t(spark, sf_dir, "documents")
    key = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    return (
        docs.select("doc_id", key.alias("content_key"))
        .groupBy("content_key")
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


# Input-size ceiling for the brute-force all-pairs baselines: above this
# the O(n^2) self-join is a scale-killer by construction — refuse loudly
# instead of silently running as the scale path.
# Refusal threshold for the O(n^2) oracle baselines. 10k rows ~ 5e7
# candidate pairs — the top of what the interpreted zip_with/aggregate
# cosine grinds through in tens of seconds locally. The previous 100k
# ceiling let the 10x scale dataset (20k vectors = 2e8 pairs on a 2-task
# nested-loop join) run for tens of minutes while looking "guarded";
# refusing it with a pointer at the LSH/MinHash scale path is the
# behavior the guard exists for. sf0.1 (2k vectors / 5k docs) passes.
ALL_PAIRS_CEILING = 10_000


def _guard_all_pairs(df, op: str, alternative: str):
    n = df.count()
    if n > ALL_PAIRS_CEILING:
        raise ValueError(
            f"{op} is an O(n^2) small-corpus baseline and refuses inputs"
            f" over {ALL_PAIRS_CEILING} rows (got {n}); use {alternative}"
            " for corpora at scale"
        )
    return df


def _pair_jaccard(pairs):
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.round(inter.cast("double") / union, 6)
    return pairs.select(
        "doc_a", "doc_b", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)


def q_ext_dedup_ngram_jaccard(spark, sf_dir):
    """Brute-force shingle-set Jaccard pairs >= threshold (the exactness
    baseline the LSH path is verified against). Guarded: refuses corpora
    over ALL_PAIRS_CEILING rows — ext_dedup_minhash is the scale path."""
    sh = _guard_all_pairs(
        _shingle_df(spark, sf_dir),
        "ext_dedup_ngram_jaccard", "ext_dedup_minhash",
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return _pair_jaccard(a.join(b, F.col("doc_a") < F.col("doc_b")))


# Raw 48-bit shingle hashes (no mod): md5 computed ONCE per shingle, then
# reused both for the OPH bin signatures (mod P) and the exact-Jaccard verify
# (set intersection over ints == over strings, md5 being collision-free at
# corpus scale — and both engines hash identically regardless).
_HS48_EXPR = (
    "transform(sh, s -> CAST(conv(substring(md5(s), 1, 12), 16, 10)"
    " AS BIGINT))"
)
# OPH signatures in one pass: bin-major sort key (h % N_PERM) * S + h, then
# the first element of each bin-run is that bin's min; scatter the runs
# into an N_PERM-wide array via a map (try_element_at -> NULL for empty
# bins, ANSI-safe).
#
# The sort and the map are LET-BOUND via single-element transform lambdas
# (`transform(array(X), x -> body)[1]`): expressed as plain projection
# columns, Catalyst's CollapseProject inlines them into every consumer and
# re-evaluates the sort per band / the map per bin — measured 8x slower.
# Lambda arguments are evaluated exactly once per row by construction.
_OPH_SK = f"array_sort(transform(hs, h -> (h % {N_PERM}) * {_BIN_SHIFT}L + h))"
_OPH_MAP = (
    "map_from_entries(filter(transform(sk, (x, i) -> IF(i = 0 OR"
    f" x div {_BIN_SHIFT} != try_element_at(sk, i) div {_BIN_SHIFT},"
    f" struct(CAST(x div {_BIN_SHIFT} AS INT) AS b,"
    f" x % {_BIN_SHIFT} AS v), NULL)), e -> e IS NOT NULL))"
)
_SIGS_EXPR = (
    f"element_at(transform(array({_OPH_SK}), sk ->"
    f" element_at(transform(array({_OPH_MAP}), m ->"
    f" transform(sequence(0, {N_PERM - 1}), j -> try_element_at(m, j))),"
    " 1)), 1)"
)


def _with_sigs(df):
    """hs (binned shingle hashes) -> sigs (OPH minhash signature array)."""
    return df.withColumn("sigs", F.expr(_SIGS_EXPR))
# 'E' marks empty bins explicitly: array_join would silently SKIP nulls and
# let different fill patterns produce identical band keys. Bands whose 4
# bins are ALL empty are dropped entirely: they carry zero signal, and on
# short-doc corpora (many empty bins) every such doc would otherwise share
# one degenerate bucket per empty band — a quadratic candidate explosion.
_BANDS_EXPR = (
    f"filter(transform(sequence(0, {N_BANDS - 1}), b ->"
    " IF(exists(slice(sigs, b * 4 + 1, 4), x -> x IS NOT NULL),"
    " md5(concat(CAST(b AS STRING), ':',"
    " array_join(transform(slice(sigs, b * 4 + 1, 4),"
    " x -> CAST(x AS STRING)), ',', 'E'))), NULL)), k -> k IS NOT NULL)"
)


# Ceiling on LSH band-bucket size for pair expansion. A bucket of n docs
# expands to n(n-1)/2 pairs; at 256 that is ~33k pairs per bucket — fine.
# A mega-cluster (thousands of near-identical docs, e.g. boilerplate) would
# land ALL its docs in the same bucket in EVERY band and expand
# quadratically, so oversized buckets are skipped-and-counted instead.
# Skip beats salt-split: a salted split silently LOSES the cross-sub-bucket
# pairs while appearing complete, whereas a skip is observable
# (warning + the result's `minhash_audit` dict) and has a documented
# remedy — run exact dedup upstream to collapse identical docs first.
MINHASH_BUCKET_CAP = 256


def minhash_pairs_from(spark, sh, bucket_cap: int | None = None,
                       audit: bool = True):
    """MinHash-LSH verified near-dup pairs from a (doc_id, sh) shingle
    frame.

    The persisted intermediate is (doc_id, hs) — 48-bit md5 ints, one md5
    per shingle for the whole pipeline: the banding pass derives mod-P
    values for the OPH bin signatures, the verify pass set-intersects the same
    ints (identical Jaccard to string intersection; the string-side oracle
    still matches value-for-value). Int arrays also cache/shuffle far
    narrower than shingle strings.
    Partitioning: every `sh` producer repartitions at the narrow scan
    BEFORE the shingle/hash projections (see `_shingle_df`), so the hash
    computation and the cache it materializes both run at full parallelism
    regardless of the input file layout.

    In-bucket pair expansion is quadratic in bucket size; buckets over
    `bucket_cap` (default MINHASH_BUCKET_CAP) are SKIPPED, counted, and
    surfaced via a warning + a `minhash_audit` dict attached to the
    returned DataFrame ({"skipped_buckets", "largest_bucket", "cap"}) —
    never silently expanded or silently dropped. See MINHASH_BUCKET_CAP
    for why skipped beats salt-split here. The audit is per-call state on
    the result (no module global), so concurrent builders don't race.

    Deliberate trade-off: with `audit=True` (default) the audit is an
    EAGER action at build time (a lazy audit can't surface the skip
    count to the caller). Its work is the signature pipeline the
    consumer pays anyway, and it materializes the persisted hash/bucket
    frames that consumer then reuses. Plan-only callers (lint, plan
    inspection) pass `audit=False` to stay fully lazy — then
    `minhash_audit` is None and no warning can fire. The session caches
    are released by `spark.catalog.clearCache()` (bench does this
    between passes)."""
    from pyspark.storagelevel import StorageLevel

    cap = MINHASH_BUCKET_CAP if bucket_cap is None else bucket_cap
    hashed = sh.select(
        "doc_id", F.expr(_HS48_EXPR).alias("hs48")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sigs = _with_sigs(
        hashed.withColumn(
            "hs", F.expr(f"transform(hs48, h -> h % {MERSENNE_P})")
        )
    )
    bands = sigs.select(
        "doc_id", F.explode(F.expr(_BANDS_EXPR)).alias("band_key")
    )
    # Bucket per band key, then expand ordered pairs inside each bucket:
    # one aggregation pass computes the signatures exactly once (a
    # bands-self-join would re-run the whole signature pipeline per side).
    # Bucket contents are near-dup families, so in-bucket expansion is the
    # confined quadratic — bounded by construction via the bucket cap.
    buckets = (
        bands.groupBy("band_key")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Eager oversized-bucket audit (opt-out via audit=False). This action
    # also materializes the bucket cache the candidate expansion reuses,
    # so the signature pipeline still runs exactly once.
    stats = None
    if audit:
        over = (
            buckets.filter(F.size("ids") > cap)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.max(F.size("ids")), F.lit(0)).alias("largest"),
            )
            .first()
        )
        stats = {
            "skipped_buckets": over["n"],
            "largest_bucket": over["largest"],
            "cap": cap,
        }
        if over["n"]:
            warnings.warn(
                f"minhash LSH skipped {over['n']} band bucket(s) over the"
                f" {cap}-doc cap (largest: {over['largest']} docs). Pairs"
                " confined to those buckets are NOT emitted. Mega-clusters"
                " are near-identical families: run exact dedup upstream to"
                " collapse them, then re-run.",
                stacklevel=2,
            )
    pairs_expr = (
        "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2,"
        " size(ids)), y -> struct(x AS doc_a, y AS doc_b))))"
    )
    cand = (
        buckets.filter(F.size("ids") <= cap)
        .select(F.explode(F.expr(pairs_expr)).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    # Exact-Jaccard verify from the SAME cached hash relation: explode each
    # pair into its two member ids, join the cache once, regroup per pair.
    # (Joining an sh_a and an sh_b relation would re-run the whole
    # shingle computation per side — 2x the dominant scan cost.) Shuffle
    # volume beyond the one cache read is only the candidate docs' hashes.
    sides = cand.select(
        "doc_a", "doc_b", F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    )
    per_pair = (
        sides.join(hashed, "doc_id")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.first(
                F.when(F.col("doc_id") == F.col("doc_a"), F.col("hs48")),
                ignorenulls=True,
            ).alias("sh_a"),
            F.first(
                F.when(F.col("doc_id") == F.col("doc_b"), F.col("hs48")),
                ignorenulls=True,
            ).alias("sh_b"),
        )
    )
    out = _pair_jaccard(per_pair)
    out.minhash_audit = stats
    return out


def q_ext_dedup_minhash(spark, sf_dir):
    """MinHash-LSH dedup: shingles -> signatures -> band buckets ->
    candidate pairs via a band-key join (a shuffle, not a cross join) ->
    exact-Jaccard verify.

    At scale the candidate join shuffles only O(docs x bands) small rows;
    the quadratic work is confined to same-bucket collisions.
    """
    return minhash_pairs_from(spark, _shingle_df(spark, sf_dir))


# simhash: 48-bit fingerprint; bit i set iff more shingles have bit i set
# in their md5-derived hash than not (distinct-shingle weighting). Shingle
# hashes computed once into `hs`, then 48 bit-count passes of integer ops.
_SIMHS_EXPR = (
    "transform(sh, s -> CAST(conv(substring(md5(s), 1, 12), 16, 10)"
    " AS BIGINT))"
)
# Single pass over the shingle hashes building all 48 bit counters at once
# (one zip_with per shingle), instead of 48 filter() array allocations per
# doc; the counter array is let-bound so it materializes exactly once.
# Values are bit-identical to the per-bit formulation — oracle unchanged.
_SIMHASH_COUNTS = (
    "aggregate(hs, transform(sequence(0, 47), z -> 0L),"
    " (acc, h) -> zip_with(acc, sequence(0, 47),"
    " (c, i) -> c + (shiftright(h, i) & 1)))"
)
_SIMHASH_EXPR = (
    f"element_at(transform(array({_SIMHASH_COUNTS}), cnt ->"
    " aggregate(sequence(0, 47), CAST(0 AS BIGINT), (a, i) ->"
    " a + IF(element_at(cnt, i + 1) * 2 > size(hs),"
    " shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))), 1)"
)


def q_ext_dedup_simhash(spark, sf_dir):
    """SimHash content fingerprints (constant-size sketch per doc)."""
    sh = _shingle_df(spark, sf_dir)  # spread at the scan inside
    return sh.withColumn("hs", F.expr(_SIMHS_EXPR)).select(
        "doc_id", F.expr(_SIMHASH_EXPR).alias("simhash")
    )


HAMMING_MAX = 3       # near-dup when simhash hamming distance <= 3
SIMHASH_CHUNKS = 4    # 48 bits -> 4 chunks of 12; pigeonhole: any pair
                      # within hamming<=3 agrees on at least one chunk


def q_ext_dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (Manku-style): band the 48-bit fingerprint
    into SIMHASH_CHUNKS chunks, bucket on (chunk index, chunk value) —
    pigeonhole-complete for hamming <= HAMMING_MAX — then exact
    bit_count(xor) verify. One groupBy pass: the fingerprint rides along
    into the bucket (it is one BIGINT), so the verify needs no re-join and
    the signature pipeline runs exactly once. Quadratic work confined to
    chunk buckets."""
    sim = q_ext_dedup_simhash(spark, sf_dir)
    chunks = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {SIMHASH_CHUNKS - 1}), c ->"
                f" c * 4096 + ((simhash >> (c * 12)) & 4095))"
            )
        ).alias("chunk_key"),
    )
    pairs_expr = (
        "flatten(transform(members, (x, i) -> transform(slice(members,"
        " i + 2, size(members)), y -> struct(x.doc_id AS doc_a,"
        " y.doc_id AS doc_b,"
        " bit_count(x.simhash ^ y.simhash) AS hamming))))"
    )
    return (
        chunks.groupBy("chunk_key")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "simhash"))
            ).alias("members")
        )
        .filter(F.size("members") > 1)
        .select(F.explode(F.expr(pairs_expr)).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.hamming")
        .filter(F.col("hamming") <= HAMMING_MAX)
        .distinct()
    )


def q_ext_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs >= threshold (brute force baseline;
    the LSH-bucketed scale path is q_ext_dedup_embedding_lsh below).
    Guarded: refuses inputs over ALL_PAIRS_CEILING rows. The threshold is
    dedup_cosine_threshold over footer metadata (no job): the near-dup
    0.99 at planted-family scale, the driver-visibility floor below."""
    emb = _guard_all_pairs(
        t(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
        ),
        "ext_dedup_embedding", "ext_dedup_embedding_lsh",
    )
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    dot = F.expr(
        "aggregate(zip_with(va, vb, (x, y) -> x * y), CAST(0 AS DOUBLE),"
        " (acc, x) -> acc + x)"
    )
    norm_a = F.expr(
        "sqrt(aggregate(zip_with(va, va, (x, y) -> x * y),"
        " CAST(0 AS DOUBLE), (acc, x) -> acc + x))"
    )
    norm_b = F.expr(
        "sqrt(aggregate(zip_with(vb, vb, (x, y) -> x * y),"
        " CAST(0 AS DOUBLE), (acc, x) -> acc + x))"
    )
    cos = F.round(dot / (norm_a * norm_b), 6)
    thr = dedup_cosine_threshold(footer_rows(sf_dir, "embeddings"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= thr)
    )


INCR_NEW_MOD = 10  # doc_id % 10 == 9 -> the simulated "new batch" (10%)


def q_ext_dedup_minhash_incremental(spark, sf_dir):
    """INCREMENTAL near-dup detection — the nightly-ingest shape: only
    pairs between the NEW batch (a deterministic 10% slice) and the
    EXISTING corpus are generated and verified; existing-vs-existing
    pairs are never re-derived. This is how a production dedup pipeline
    runs after day one: the corpus's band keys are a STORED index, each
    new batch computes its own signatures, probes the index, and
    appends.

    Scale shape: candidate generation is a band-key equi-join of the
    batch's bands (small) against the stored band relation; per-key
    fan-out is |new_in_bucket| x |old_in_bucket|, capped by skipping
    band keys whose STORED posting exceeds MINHASH_BUCKET_CAP (the hot-
    posting cap every inverted index applies). Work per night is
    O(batch x bands), independent of total corpus size.
    """
    from pyspark.storagelevel import StorageLevel

    cap = MINHASH_BUCKET_CAP
    sh = _shingle_df(spark, sf_dir)
    # Same cached-hash discipline as minhash_pairs_from: the tokenize/
    # shingle/md5 pipeline (the dominant cost) runs ONCE into this
    # persisted frame; banding, the posting audit, and the Jaccard
    # verify all reuse it instead of re-deriving per consumer.
    hashed = sh.select(
        "doc_id", F.expr(_HS48_EXPR).alias("hs48")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sigs = _with_sigs(
        hashed.withColumn(
            "hs", F.expr(f"transform(hs48, h -> h % {MERSENNE_P})")
        )
    )
    bands = sigs.select(
        "doc_id", F.explode(F.expr(_BANDS_EXPR)).alias("band_key")
    )
    new_pred = (F.col("doc_id") % INCR_NEW_MOD) == INCR_NEW_MOD - 1
    # Stored-side postings, persisted: the index relation the batch
    # probes. Over-cap postings are skipped-and-AUDITED, mirroring
    # minhash_pairs_from's observable-skip contract (warning +
    # `minhash_audit` on the result; never a silent drop).
    postings = (
        bands.filter(~new_pred)
        .groupBy("band_key")
        .agg(F.collect_list("doc_id").alias("old_ids"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    over = (
        postings.filter(F.size("old_ids") > cap)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.max(F.size("old_ids")), F.lit(0))
            .alias("largest"),
        )
        .first()
    )
    stats = {
        "skipped_buckets": over["n"],
        "largest_bucket": over["largest"],
        "cap": cap,
    }
    if over["n"]:
        warnings.warn(
            f"incremental minhash skipped {over['n']} stored posting(s)"
            f" over the {cap}-doc cap (largest: {over['largest']})."
            " New-batch pairs against those postings are NOT emitted —"
            " collapse the mega-cluster with exact dedup upstream.",
            stacklevel=2,
        )
    bn = bands.filter(new_pred).select(
        F.col("doc_id").alias("new_id"), "band_key"
    )
    cand = (
        bn.join(postings.filter(F.size("old_ids") <= cap), "band_key")
        .select("new_id", F.explode("old_ids").alias("old_id"))
        .distinct()
    )
    # Verify from the SAME cached hash relation (explode pair members,
    # one join, regroup) — not per-side shingle re-derivation.
    sides = cand.select(
        "old_id", "new_id",
        F.explode(F.array("old_id", "new_id")).alias("doc_id"),
    )
    per_pair = (
        sides.join(hashed, "doc_id")
        .groupBy("old_id", "new_id")
        .agg(
            F.first(
                F.when(F.col("doc_id") == F.col("old_id"),
                       F.col("hs48")),
                ignorenulls=True,
            ).alias("sh_a"),
            F.first(
                F.when(F.col("doc_id") == F.col("new_id"),
                       F.col("hs48")),
                ignorenulls=True,
            ).alias("sh_b"),
        )
    )
    # Same verify expression as the batch path — _pair_jaccard is the
    # ONE definition of the threshold test, so batch and incremental
    # cannot drift (the soundness test compares them).
    out = _pair_jaccard(
        per_pair.select(
            F.col("old_id").alias("doc_a"),
            F.col("new_id").alias("doc_b"),
            "sh_a", "sh_b",
        )
    ).select(
        F.col("doc_a").alias("old_id"),
        F.col("doc_b").alias("new_id"),
        "jaccard",
    )
    out.minhash_audit = stats
    return out


CONTAIN_DF_CAP = 10       # shingles in more docs than this are treated
                          # as boilerplate and dropped from the postings
CONTAIN_THRESHOLD = 0.5   # shared-rare-shingle fraction of the smaller doc


def q_ext_dedup_containment(spark, sf_dir):
    """Containment (subset-duplicate) detection: pairs where the smaller
    document's rare shingles are mostly contained in the larger one —
    catches quote-plus-commentary and excerpt duplicates that symmetric
    Jaccard misses (a 10x-longer superset halves Jaccard but keeps
    containment at 1).

    Scale shape: the classic inverted-index overlap count — explode
    distinct (doc, shingle) postings, DROP shingles with document
    frequency > CONTAIN_DF_CAP (boilerplate is what makes posting-list
    self-joins quadratic; dropped shingles are exactly the ones carrying
    no identity signal), then expand ordered pairs IN-BUCKET per shingle
    (r13: the minhash_pairs_from / basket_pairs pattern replaces the
    r12 posting SELF-JOIN — the groupBy(s) reuses the df-cap join's
    existing hashpartitioning(s), where the SMJ re-sorted BOTH posting
    sides; interleaved A/B 1.13x sf1.0 / 1.09x sf10, values
    bit-identical: ids is the sorted distinct doc set per shingle, so
    (x, y in slice(i+2..)) enumerates exactly the join's a < b rows).
    Expansion stays bounded <= cap^2/2 pairs per shingle, so candidate
    work is linear in postings, never |docs|^2.
    """
    sh = (
        _shingle_df(spark, sf_dir)
        .select("doc_id", F.explode("sh").alias("s"))
        .distinct()
    )
    # Every join below pairs two SHINGLE- or DOC-keyed relations — both
    # grow linearly with the corpus, but Spark's post-Generate size
    # estimates never do (explode output is costed at pre-explode size),
    # so the optimizer keeps electing broadcast at ANY data volume — the
    # exact OOM class reproduced for ext_dedup_dup_rate at the 10x
    # dataset on a vanilla 1g driver. MERGE hints pin the only plan that
    # survives 100 TB.
    df_counts = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    rare = sh.join(
        df_counts.filter(F.col("df") <= CONTAIN_DF_CAP).hint("merge"), "s"
    ).select("doc_id", "s")
    sizes = rare.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    pairs_expr = (
        "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2,"
        " size(ids)), y -> struct(x AS doc_a, y AS doc_b))))"
    )
    overlap = (
        rare.groupBy("s")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode(F.expr(pairs_expr)).alias("p"))
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_sh").alias("n_b"))
    return (
        overlap.join(sa.hint("merge"), "doc_a")
        .join(sb.hint("merge"), "doc_b")
        .select(
            "doc_a", "doc_b", "shared",
            F.round(
                F.col("shared").cast("double")
                / F.least("n_a", "n_b"),
                6,
            ).alias("containment"),
        )
        .filter(F.col("containment") >= CONTAIN_THRESHOLD)
    )


def q_ext_dedup_embedding_lsh(spark, sf_dir):
    """Embedding-cosine near-dup pairs — the LSH-bucketed SCALE path for
    q_ext_dedup_embedding (which is the guarded all-pairs baseline).

    Candidates are pairs colliding in at least one of the similarity
    module's LSH_TABLES sign-projection buckets (same deterministic keys
    as ext_similarity_lsh), then exact-cosine verified at
    dedup_cosine_threshold (0.99 at planted-family scale; the
    driver-visibility floor below — see COSINE_FLOOR_THRESHOLD, whose
    oracle mirrors candidate generation so the floor band's
    probabilistic recall never shows as a mismatch). At cos >= 0.99 the
    per-table collision probability
    is (1 - theta/pi)^K ~ 0.83, so the 12-table union misses a true pair
    with probability ~0.17^12 — recall is effectively 1 while random
    pairs collide at ~L/2^K of the corpus.

    Scale shape: the cross product never materializes — only same-bucket
    collisions do (bucket-key equi-join, shuffle keyed by bucket).
    Bucket population ~ N/2^K per table, and K genuinely grows
    ~log2(N/target) with the corpus row count (similarity.lsh_k over
    footer metadata — no job): with K fixed at 4, the 100x dataset left
    12.5k vectors per bucket ~ 15e9 in-bucket candidate pairs and the
    join never finished. Adaptive K holds per-bucket cost flat (the same
    dial the MinHash path caps with MINHASH_BUCKET_CAP); the DuckDB
    oracle runs at sf0.01 where lsh_k(500) == 4 == the oracle's static K.

    The verify is BUCKET-LOCAL: vectors and their (once-per-row) norms
    ride through the bucket-key shuffle — N*L rows, linear in the
    corpus — and collisions are cosine-scored and threshold-filtered
    INLINE on the join output. FIRST-COLLISION EMISSION: at this
    threshold a true pair collides in ~0.83*L of the tables, so scoring
    every collision ran the 192-term cosine ~10x per near-dup pair;
    both sides now carry their explode-time collision_prefix and the
    join keeps a collision only at the first agreeing table
    (similarity.first_collision_cond owns the table-id-high-bits
    invariant the check rides on). Pairs come
    out unique by construction — no distinct — with identical values.
    The earlier candidates-first plan
    (distinct over ~N*L*pop/2 pairs, then two joins back to the vector
    frame) OOMed at the 100x dataset: Spark elected broadcast-hash for
    both vector fetches — the 50 MB float-compressed parquet estimate
    sits under the session's 64 MB threshold while the in-memory
    double-array relation is several hundred MB, twice — and the fix
    that doesn't broadcast would shuffle candidate rows CARRYING a
    512-byte vector each (~50 GB at sf10). Oracle (candidates-first,
    verify-after) is unchanged: same pair set, same vectors, same
    rounded cosines.
    """
    from relational_to_doc_oriented_nosql_migrator_spark.operators import (
        similarity as _sim,
    )
    from relational_to_doc_oriented_nosql_migrator_spark.operators.common import (
        footer_rows,
    )

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    n_vectors = footer_rows(sf_dir, "embeddings")
    k = _sim.lsh_k(n_vectors)
    thr = dedup_cosine_threshold(n_vectors)
    # collision_prefix at explode time: only the first-`tbl` slice rides
    # through the merge-join shuffle (avg (L-1)/2 ints vs the full
    # L-int array — r08 verdict #3); the bucket-key equi-join forces
    # both sides to the same table, so slicing each side at its OWN
    # explode index is the original condition exactly.
    keys = emb.withColumn("keys", F.expr(_sim.tables_expr(k))).select(
        "vec_id",
        "v",
        F.sqrt(F.expr(_sim._unrolled_dot("v", "v"))).alias("nrm"),
        "keys",
        F.posexplode("keys").alias("tbl", "bkey"),
    ).select(
        "vec_id", "v", "nrm", "bkey",
        F.expr(_sim.collision_prefix("keys", "tbl")).alias("pfx"),
    )
    ka = keys.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
        F.col("nrm").alias("nrm_a"), F.col("pfx").alias("pfx_a"),
        "bkey",
    )
    kb = keys.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nrm_b"), F.col("pfx").alias("pfx_b"),
        "bkey",
    )
    # MERGE hint: both collision sides are the corpus's exploded bucket
    # keys; post-Generate size estimates stay at pre-explode size, so the
    # optimizer would broadcast a corpus-scale relation at any volume
    # (the dup_rate OOM class). The bucket-keyed shuffle join IS the LSH
    # scale plan.
    dot = F.expr(_sim._unrolled_dot("va", "vb"))
    return (
        ka.join(kb.hint("merge"), "bkey")
        .filter(
            (F.col("vec_a") < F.col("vec_b"))
            & _sim.first_collision_cond("pfx_a", "pfx_b")
        )
        .select(
            "vec_a", "vec_b",
            F.round(dot / (F.col("nrm_a") * F.col("nrm_b")), 6)
            .alias("cosine"),
        )
        .filter(F.col("cosine") >= thr)
    )


# Label propagation converges in <= diameter iterations; near-dup pair
# graphs are shallow (dense clusters), so a deep chain means runaway input,
# not a bigger budget. Lineage is truncated every CC_CHECKPOINT_EVERY
# rounds: persist() caches the DATA but the logical plan still chains every
# prior iteration, and past ~15 joined-and-unioned iterations the optimizer
# itself becomes the bottleneck. localCheckpoint cuts the plan at the
# cached RDD.
CC_MAX_ITERS = 50
CC_CHECKPOINT_EVERY = 5


def connected_components(
    pairs,
    max_iters: int = CC_MAX_ITERS,
    checkpoint_every: int = CC_CHECKPOINT_EVERY,
):
    """Connected components over an undirected (doc_a, doc_b) pair frame
    via iterative min-label propagation (the GraphFrames-CC pattern,
    bounded by component diameter). Returns (doc_id, rep_doc_id =
    component minimum), one row per node that appears in any pair.

    Scale shape: every iteration is one shuffle-join on node id over the
    PAIR graph (pair-graph-sized, not corpus-sized). Raises RuntimeError
    if max_iters rounds don't converge.
    """
    edges = (
        pairs.unionByName(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("doc_a").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .persist()
    )
    labels.count()  # materialize before iterating
    converged = False
    for it in range(1, max_iters + 1):
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.node)
            .groupBy("doc_a")
            .agg(F.min("lbl").alias("nlbl"))
        )
        new_labels = labels.join(
            neighbor_min, labels.node == neighbor_min.doc_a, "left"
        ).select(
            "node",
            F.least(
                F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
            ).alias("lbl"),
        )
        if it % checkpoint_every == 0:
            # Truncate lineage: materializes eagerly and replaces the
            # logical plan with a scan of the checkpointed RDD. The
            # checkpoint blocks aren't freed by unpersist() (they die
            # with RDD GC), but at most max_iters/checkpoint_every
            # label frames — pair-graph-node-sized, not corpus-sized —
            # can accumulate.
            new_labels = new_labels.localCheckpoint(eager=True)
        else:
            new_labels = new_labels.persist()
        changed = (
            new_labels.join(labels.withColumnRenamed("lbl", "old"), "node")
            .filter(F.col("lbl") != F.col("old"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters}"
            " iterations — the pair graph has a component with diameter"
            f" > {max_iters}. Near-dup graphs are shallow; a chain this"
            " deep usually means the pair threshold is too loose. Raise"
            " max_iters only if the input is genuinely that elongated."
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("rep_doc_id")
    )


def q_ext_dedup_components(spark, sf_dir):
    """Near-dup cluster representatives: connected components over the
    LSH-verified pair graph. Output is one row per doc that belongs to any
    near-dup pair: (doc_id, rep_doc_id = component minimum) — what a dedup
    pipeline keeps/drops at scale."""
    return connected_components(
        q_ext_dedup_minhash(spark, sf_dir).select("doc_a", "doc_b")
    )


def q_ext_dedup_canonical(spark, sf_dir):
    """Canonical-doc selection: within each near-dup cluster keep the
    longest variant (max n_chars, ties to the smallest doc_id) — the
    decision a dedup pipeline actually ships, turning pair/cluster
    detection into a keep/drop list.

    Scale shape: the cluster relation is pair-member-sized (docs in at
    least one near-dup pair), far smaller than the corpus; the length
    lookup is a narrow two-column join against documents; the argmax is
    one window over cluster-sized groups. Nothing corpus-quadratic.
    """
    comp = connected_components(
        q_ext_dedup_minhash(spark, sf_dir).select("doc_a", "doc_b")
    )
    lens = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    scored = comp.join(lens, "doc_id")
    w = Window.partitionBy("rep_doc_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        scored.withColumn("r", F.row_number().over(w))
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("rep_doc_id")),
        )
        .filter(F.col("r") == 1)
        .select(
            "rep_doc_id",
            F.col("doc_id").alias("keep_doc_id"),
            F.col("n_chars").alias("keep_n_chars"),
            "cluster_size",
        )
    )


# A shingle shared by this many distinct docs is boilerplate (headers,
# licenses, templates) — the CCNet-style pre-pass that removes repeated
# spans before near-dup detection.
BOILERPLATE_MIN_DOCS = 3


def q_ext_dedup_common_ngrams(spark, sf_dir):
    """Boilerplate n-gram detection: word-5-gram shingles appearing in >=
    BOILERPLATE_MIN_DOCS distinct docs, with their document frequency.

    Scale shape: per-doc shingle sets are already distinct, so one
    explode + one map-side-combined groupBy(shingle) gives document
    frequency directly — a single uniform-key shuffle, no joins. The
    output is vocabulary-sized (shared shingles only), which downstream
    scrubbing joins back against the corpus as the small side.
    """
    sh = _shingle_df(spark, sf_dir)
    return (
        sh.select("doc_id", F.explode("sh").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= BOILERPLATE_MIN_DOCS)
    )


def q_ext_dedup_dup_rate(spark, sf_dir):
    """Per-document duplication rate: the fraction of a doc's distinct
    word-5-gram shingles that also appear in at least one OTHER document —
    the standard per-doc "how much of this text is boilerplate/copied"
    signal used to rank removal candidates (a soft complement to the hard
    pair detectors: 1.0 = every shingle is shared somewhere, 0.0 = fully
    novel text).

    Scale shape: per-doc shingle sets are distinct, so document frequency
    is one explode + one map-side-combined groupBy; the freq frame joins
    back shingle-keyed (both sides already hashed on shingle from the agg,
    so the join reuses that partitioning). The join carries an explicit
    MERGE hint: the frequency relation is SHINGLE-keyed — it grows with
    the corpus, not a vocabulary — so letting the optimizer broadcast it
    (post-aggregation size estimates run low) OOMs exactly like the
    banned raw-corpus broadcasts (reproduced at the 10x dataset on a
    vanilla 1g-driver session; the sort-merge join is the plan that
    survives 100 TB). The per-doc ratio is one double division of exact
    integers — engine-identical.
    """
    sh = _shingle_df(spark, sf_dir).select(
        "doc_id", F.explode("sh").alias("shingle")
    )
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("n_docs"))
    counts = (
        sh.join(dfreq.hint("merge"), "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("n_docs") >= 2).cast("bigint")).alias("n_shared"),
        )
    )
    return counts.select(
        "doc_id", "n_shingles", "n_shared",
        F.round(
            F.col("n_shared").cast("double") / F.col("n_shingles"), 6
        ).alias("dup_rate"),
    )


QUERIES = {
    "ext_dedup_exact": q_ext_dedup_exact,
    "ext_dedup_dup_rate": q_ext_dedup_dup_rate,
    "ext_dedup_common_ngrams": q_ext_dedup_common_ngrams,
    "ext_dedup_components": q_ext_dedup_components,
    "ext_dedup_canonical": q_ext_dedup_canonical,
    "ext_dedup_ngram_jaccard": q_ext_dedup_ngram_jaccard,
    "ext_dedup_minhash": q_ext_dedup_minhash,
    "ext_dedup_simhash": q_ext_dedup_simhash,
    "ext_dedup_simhash_pairs": q_ext_dedup_simhash_pairs,
    "ext_dedup_embedding": q_ext_dedup_embedding,
    "ext_dedup_embedding_lsh": q_ext_dedup_embedding_lsh,
    "ext_dedup_containment": q_ext_dedup_containment,
    "ext_dedup_minhash_incremental": q_ext_dedup_minhash_incremental,
}

_SQL_HS = (
    f"[('0x' || substr(md5(s), 1, 12))::BIGINT % {MERSENNE_P} for s in sh]"
)
# OPH mirror: per-bin min (NULL for empty bins). The oracle computes it the
# direct O(N_PERM * |hs|) way — same values as the engine's sort-trick.
_SQL_SIGS = (
    f"[list_min([h for h in hs if h % {N_PERM} = j])"
    f" for j in generate_series(0, {N_PERM - 1})]"
)
_SQL_BANDS = (
    f"[md5(CAST(b AS VARCHAR) || ':' ||"
    f" array_to_string([coalesce(CAST(x AS VARCHAR), 'E')"
    f" for x in sigs[b * 4 + 1 : b * 4 + 4]], ','))"
    f" for b in generate_series(0, {N_BANDS - 1})"
    f" if len([x for x in sigs[b * 4 + 1 : b * 4 + 4]"
    f" if x IS NOT NULL]) > 0]"
)
_SQL_PAIR_JACCARD = (
    "round(len(list_intersect(a.sh, b.sh))::DOUBLE /"
    " (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)"
)

ORACLES = {
    "ext_dedup_dup_rate": f"""
WITH tk AS ({SQL_TK}),
shingles AS (SELECT doc_id, {SQL_SHINGLES} AS sh FROM tk),
ex AS (SELECT doc_id, unnest(sh) AS shingle FROM shingles),
dfreq AS (SELECT shingle, COUNT(*) AS n_docs FROM ex GROUP BY shingle),
counts AS (
  SELECT doc_id, COUNT(*) AS n_shingles,
         SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared
  FROM ex JOIN dfreq USING (shingle) GROUP BY doc_id
)
SELECT doc_id, n_shingles, n_shared,
       round(n_shared::DOUBLE / n_shingles, 6) AS dup_rate
FROM counts
""",
    "ext_dedup_common_ngrams": f"""
WITH tk AS ({SQL_TK}),
shingles AS (SELECT doc_id, {SQL_SHINGLES} AS sh FROM tk)
SELECT shingle, COUNT(*) AS n_docs
FROM (SELECT doc_id, unnest(sh) AS shingle FROM shingles)
GROUP BY shingle HAVING COUNT(*) >= {BOILERPLATE_MIN_DOCS}
""",
    "ext_dedup_exact": """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
         AS content_key,
       MIN(doc_id) AS rep_doc_id, COUNT(*) AS n_docs
FROM documents GROUP BY 1
""",
    "ext_dedup_ngram_jaccard": f"""
WITH tk AS ({SQL_TK}),
shingles AS (SELECT doc_id, {SQL_SHINGLES} AS sh FROM tk)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       {_SQL_PAIR_JACCARD} AS jaccard
FROM shingles a JOIN shingles b ON a.doc_id < b.doc_id
WHERE {_SQL_PAIR_JACCARD} >= {JACCARD_THRESHOLD}
""",
    "ext_dedup_minhash": f"""
WITH tk AS ({SQL_TK}),
shingles AS (SELECT doc_id, {SQL_SHINGLES} AS sh FROM tk),
hashed AS (SELECT doc_id, {_SQL_HS} AS hs FROM shingles),
sigs AS (SELECT doc_id, {_SQL_SIGS} AS sigs FROM hashed),
bands AS (SELECT doc_id, unnest({_SQL_BANDS}) AS band_key FROM sigs),
-- mirror of MINHASH_BUCKET_CAP: oversized buckets emit no pairs
ok AS (SELECT band_key FROM bands GROUP BY band_key
       HAVING COUNT(*) <= {MINHASH_BUCKET_CAP}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y ON x.band_key = y.band_key
  JOIN ok ON x.band_key = ok.band_key
  WHERE x.doc_id < y.doc_id
)
SELECT c.doc_a, c.doc_b, {_SQL_PAIR_JACCARD} AS jaccard
FROM cand c
JOIN shingles a ON c.doc_a = a.doc_id
JOIN shingles b ON c.doc_b = b.doc_id
WHERE {_SQL_PAIR_JACCARD} >= {JACCARD_THRESHOLD}
""",
    "ext_dedup_simhash": f"""
WITH tk AS ({SQL_TK}),
shingles AS (SELECT doc_id, {SQL_SHINGLES} AS sh FROM tk),
hashed AS (
  SELECT doc_id, len(sh) AS n,
         [('0x' || substr(md5(s), 1, 12))::BIGINT for s in sh] AS hs
  FROM shingles
)
SELECT doc_id,
       CAST(list_sum(
           [CASE WHEN len(list_filter(hs, h -> (h >> i) & 1 = 1)) * 2 > n
                 THEN (1::BIGINT << i) ELSE 0::BIGINT END
            for i in generate_series(0, 47)]) AS BIGINT) AS simhash
FROM hashed
""",
}


def oracle_embedding(n_vectors: int) -> str:
    """Brute-force embedding-dedup oracle rendered for a corpus of
    n_vectors: the threshold follows dedup_cosine_threshold exactly as
    the engine does (the driver-scale static rendering below is the
    floor threshold — see COSINE_FLOOR_THRESHOLD)."""
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.e, b.e) /
             (sqrt(list_dot_product(a.e, a.e)) *
              sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.e, b.e) /
            (sqrt(list_dot_product(a.e, a.e)) *
             sqrt(list_dot_product(b.e, b.e))), 6)
      >= {dedup_cosine_threshold(n_vectors)}
"""

# Incremental mirror: same bands/sigs, old/new split on doc_id % mod,
# hot-posting cap on the STORED (old) side only.
ORACLES["ext_dedup_minhash_incremental"] = f"""
WITH tk AS ({SQL_TK}),
shingles AS (SELECT doc_id, {SQL_SHINGLES} AS sh FROM tk),
hashed AS (SELECT doc_id, {_SQL_HS} AS hs FROM shingles),
sigs AS (SELECT doc_id, {_SQL_SIGS} AS sigs FROM hashed),
bands AS (SELECT doc_id, unnest({_SQL_BANDS}) AS band_key FROM sigs),
bo AS (SELECT doc_id AS old_id, band_key FROM bands
       WHERE doc_id % {INCR_NEW_MOD} <> {INCR_NEW_MOD - 1}),
bn AS (SELECT doc_id AS new_id, band_key FROM bands
       WHERE doc_id % {INCR_NEW_MOD} = {INCR_NEW_MOD - 1}),
ok AS (SELECT band_key FROM bo GROUP BY band_key
       HAVING COUNT(*) <= {MINHASH_BUCKET_CAP}),
cand AS (
  SELECT DISTINCT o.old_id, n.new_id
  FROM bn n JOIN bo o ON n.band_key = o.band_key
  JOIN ok ON o.band_key = ok.band_key
)
SELECT c.old_id, c.new_id, {_SQL_PAIR_JACCARD} AS jaccard
FROM cand c
JOIN shingles a ON c.old_id = a.doc_id
JOIN shingles b ON c.new_id = b.doc_id
WHERE {_SQL_PAIR_JACCARD} >= {JACCARD_THRESHOLD}
"""

# Same df-capped posting-list overlap count; COUNT/least are integer-
# exact, only the final ratio is floating (identical expression).
ORACLES["ext_dedup_containment"] = f"""
WITH tk AS ({SQL_TK}),
sh AS (SELECT DISTINCT doc_id, unnest({SQL_SHINGLES}) AS s FROM tk),
dfc AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
rare AS (
  SELECT sh.doc_id, sh.s FROM sh JOIN dfc ON sh.s = dfc.s
  WHERE dfc.df <= {CONTAIN_DF_CAP}
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM rare GROUP BY doc_id),
overlap AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared,
       round(shared::DOUBLE / least(na.n_sh, nb.n_sh), 6) AS containment
FROM overlap
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE round(shared::DOUBLE / least(na.n_sh, nb.n_sh), 6)
      >= {CONTAIN_THRESHOLD}
"""

def oracle_embedding_lsh(n_vectors: int) -> str:
    """Render the embedding-LSH dedup oracle for a corpus of n_vectors,
    using the SAME adaptive key width AND threshold the engine picks
    (similarity.lsh_k / dedup_cosine_threshold over footer metadata) so
    engine-vs-oracle equality
    stays EXACT at every scale, not probabilistic (r05 ADVICE: a static
    K=4 oracle diverges above 2048 vectors where the engine jumps to
    K=24 — per-pair miss ~4e-7, i.e. a non-reproducible flake for any
    harness pointed past oracle scale). At driver scale lsh_k(500) == 4
    renders byte-identical SQL to the previously shipped static text,
    so all recorded driver rows stay accurate. Harnesses auditing other
    scales (tools/driver_audit.py) re-render via this seam."""
    from relational_to_doc_oriented_nosql_migrator_spark.operators.similarity import (
        lsh_k,
        sql_table_keys,
    )

    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                  embedding::DOUBLE[] AS v FROM embeddings),
keys AS (SELECT vec_id, unnest({sql_table_keys(lsh_k(n_vectors))}) AS bkey FROM v),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM keys a JOIN keys b ON a.bkey = b.bkey AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM (
  SELECT cd.vec_a, cd.vec_b,
         round(list_dot_product(a.e, b.e) /
               (sqrt(list_dot_product(a.e, a.e)) *
                sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
  FROM cand cd JOIN v a ON a.vec_id = cd.vec_a
               JOIN v b ON b.vec_id = cd.vec_b
) WHERE cosine >= {dedup_cosine_threshold(n_vectors)}
"""


# The registered (static) instances are the driver-scale renderings: the
# driver only ever compares at sf0.01 (500 vectors -> K=4, floor
# threshold).
ORACLE_SCALE_N_VECTORS = 500
ORACLES["ext_dedup_embedding"] = oracle_embedding(ORACLE_SCALE_N_VECTORS)
ORACLES["ext_dedup_embedding_lsh"] = oracle_embedding_lsh(
    ORACLE_SCALE_N_VECTORS
)

# Scale-adaptive oracle renderers (sf_dir -> SQL) for harnesses pointed
# at a non-driver SF (tools/driver_audit.py) — same seam as pipeline's.
SCALED_ORACLES = {
    "ext_dedup_embedding": lambda sf_dir: oracle_embedding(
        footer_rows(sf_dir, "embeddings")
    ),
    "ext_dedup_embedding_lsh": lambda sf_dir: oracle_embedding_lsh(
        footer_rows(sf_dir, "embeddings")
    ),
}

# Connected components via transitive closure (recursive CTE) over the same
# minhash pair graph; rep = min reachable doc (incl. self).
ORACLES["ext_dedup_components"] = f"""
WITH RECURSIVE mh AS ({ORACLES['ext_dedup_minhash']}),
edges AS (
  SELECT doc_a, doc_b FROM mh
  UNION
  SELECT doc_b, doc_a FROM mh
),
reach(a, b) AS (
  SELECT doc_a, doc_b FROM edges
  UNION
  SELECT r.a, e.doc_b FROM reach r JOIN edges e ON r.b = e.doc_a
)
SELECT a AS doc_id, LEAST(a, MIN(b)) AS rep_doc_id FROM reach GROUP BY a
"""

# Keep-best per cluster: longest doc wins, ties to the smallest doc_id.
ORACLES["ext_dedup_canonical"] = f"""
WITH comp AS ({ORACLES['ext_dedup_components']}),
scored AS (
  SELECT c.rep_doc_id, c.doc_id, d.n_chars,
         row_number() OVER (PARTITION BY c.rep_doc_id
                            ORDER BY d.n_chars DESC, c.doc_id ASC) AS r,
         COUNT(*) OVER (PARTITION BY c.rep_doc_id) AS cluster_size
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
)
SELECT rep_doc_id, doc_id AS keep_doc_id, n_chars AS keep_n_chars,
       cluster_size
FROM scored WHERE r = 1
"""

# SimHash near-dup pairs: same chunk-banding + exact hamming verify.
ORACLES["ext_dedup_simhash_pairs"] = f"""
WITH sim AS ({ORACLES['ext_dedup_simhash']}),
chunks AS (
  SELECT doc_id, simhash,
         unnest([c * 4096 + ((simhash >> (c * 12)) & 4095)
                 for c in generate_series(0, {SIMHASH_CHUNKS - 1})])
           AS chunk_key
  FROM sim
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM chunks a JOIN chunks b
  ON a.chunk_key = b.chunk_key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
"""
