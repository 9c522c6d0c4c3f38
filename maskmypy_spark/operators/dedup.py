"""Training-data pipeline operators over document / embedding tables:
deduplication (exact, n-gram Jaccard, MinHash-LSH, SimHash), text metrics
(tokens, quality, language-ID), similarity search (brute-force cosine kNN +
LSH-bucketed ANN).

Not part of the MaskMyPy reference — these are the large-scale data-prep
operators the engine adds for its 100 TB target workload. Everything is
built from the same primitives as the spatial layer: declarative explode +
equi-join + aggregate (JVM-side), with the engine's hash family for
sketches so results are partitioning-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

TOKENIZE = r"\s+"
STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "on", "for")


def tokens_col(text: str = "text"):
    return F.split(F.trim(F.col(text)), TOKENIZE)


# GPT-2-style pretokenizer shape, RE2-safe (no lookahead — DuckDB's regex
# engine must accept the same pattern so the oracle stays exact):
# contraction suffixes | letters | digits | punctuation runs | whitespace.
BPE_ISH = r"'(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"


def doc_tokens(df: DataFrame, key: str = "doc_id", text: str = "text") -> DataFrame:
    """Token + char counts per document: whitespace tokens and a BPE-ish
    regex pretoken count (the LLM-pipeline "how many tokens is this corpus"
    estimator — a real tokenizer refines the same match stream)."""
    return df.select(
        key,
        F.size(tokens_col(text)).alias("n_tokens"),
        F.size(F.regexp_extract_all(text, F.lit(BPE_ISH), F.lit(0))).alias(
            "n_tokens_bpe"
        ),
        F.length(text).alias("n_chars"),
    )


def doc_quality(df: DataFrame, key: str = "doc_id", text: str = "text") -> DataFrame:
    """Heuristic quality scores: alphabetic ratio, stopword ratio, mean
    token length — the standard cheap pre-filters of web-scale corpora."""
    toks = tokens_col(text)
    return df.select(
        key,
        F.round(
            F.length(F.regexp_replace(text, "[^a-zA-Z]", "")) / F.length(text), 6
        ).alias("alpha_ratio"),
        F.round(
            F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))) / F.size(toks),
            6,
        ).alias("stopword_ratio"),
        F.round(
            F.length(F.regexp_replace(text, r"\s+", "")) / F.size(toks), 6
        ).alias("mean_token_len"),
    )


def _word_grams(tcol: str, n: int):
    """Word ``n``-grams of a PRE-PROJECTED token-array column ``tcol``:
    gram i is built by direct element references (``t[i] || ' ' ||
    t[i+1] ...``) instead of ``concat_ws(slice(...))`` — higher-order
    lambdas run INTERPRETED (CodegenFallback), and the slice allocated a
    fresh sub-array per gram per doc; the direct form measured 10x faster
    at 1M docs (43 -> 4.3 s, BENCH/NOTES.md). Whitespace-split tokens
    contain neither NULLs nor the joiner, so element concat equals
    concat_ws over the slice.

    An EMPTY array when the doc has fewer than ``n`` tokens (or NULL
    tokens), whatever guard the caller has: Spark's ``sequence(0, -1)`` is
    ``[0, -1]``, not empty, so an unguarded transform would index before
    the array. The caller must project ``tcol`` in its OWN select so the
    tokenization runs once per row (CollapseProject keeps non-cheap
    multi-referenced aliases staged)."""
    idx = " || ' ' || ".join(f"{tcol}[i + {j}]" for j in range(n))
    return F.expr(
        f"CASE WHEN size({tcol}) >= {n} "
        f"THEN transform(sequence(0, size({tcol}) - {n}), i -> {idx}) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def _dup_ngram_col(tcol: str, n: int):
    """Gopher dup-n-gram fraction over the token-array column ``tcol``
    (0.0 when it has no ``n``-gram)."""
    grams = _word_grams(tcol, n)
    return F.when(
        F.size(F.col(tcol)) >= n,
        F.round(F.lit(1.0) - F.size(F.array_distinct(grams)) / F.size(grams), 6),
    ).otherwise(F.lit(0.0))


def doc_repetition(
    df: DataFrame, n: int = 2, key: str = "doc_id", text: str = "text"
) -> DataFrame:
    """Within-document duplicate word-n-gram fraction — the repetition
    signal of the published Gopher quality rules (Rae et al. 2021,
    appendix A1.1: repetitious documents are boilerplate/spam):

        dup_ngram_frac = 1 - distinct_ngrams / total_ngrams

    (0.0 for documents with fewer than ``n`` tokens or NULL text). Pure
    per-document projection: tokens -> n-gram array (direct element refs,
    :func:`_dup_ngram_col`) -> array_distinct — no explode, no shuffle,
    nothing leaves the row. Complements :func:`doc_quality`'s ratio
    filters and the CROSS-document dedup family (this one needs no index
    at any corpus size)."""
    return df.select(key, tokens_col(text).alias("_t")).select(
        key, _dup_ngram_col("_t", n).alias("dup_ngram_frac")
    )


def curate(
    df: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    max_repetition: float = 0.3,
    min_alpha: float = 0.4,
    sample_rate: float | None = None,
    seed: int = 1,
    n: int = 2,
) -> DataFrame:
    """End-to-end text-curation pipeline — the composition the §2.11
    operators exist for, in the cost shape a 100 TB corpus demands:

    1. per-row quality gates (alphabetic ratio >= ``min_alpha``, Gopher
       duplicate-``n``-gram fraction <= ``max_repetition``) — ONE
       projection on the scan, nothing shuffles;
    2. optional deterministic hash sample (``sample_rate`` — replayable,
       partition-independent) — a pushdown filter;
    3. exact-dedup keeper election (min key per content digest) over the
       SURVIVORS — the pipeline's only shuffle, on the md5 digest, after
       the cheap gates have already discarded rows.

    NULL/empty texts drop at the alpha gate (undefined ratio). Gates
    compare on the 6 dp-rounded metrics (the same values returned), so
    boundary behavior is engine-exact. Returns the surviving keeper rows
    as (key, alpha_ratio, dup_ngram_frac)."""
    gated = _quality_gated(
        df, key, text, max_repetition, min_alpha, n, sample_rate, seed
    )
    # Keeper election as ONE digest-keyed HashAggregate: the previous
    # Window(min over md5(text)) shuffled AND sorted the full text column;
    # projecting the digest first shuffles 32 bytes per row with map-side
    # partial aggregation and no sort (guide §2.3: shuffle keys, not
    # payloads). Rows sharing a digest share the text, hence identical
    # metrics — min_by on the keeper key returns exactly the keeper row's
    # values (deterministic: key is unique).
    return (
        gated.select(
            key, "alpha_ratio", "dup_ngram_frac", F.md5(F.col(text)).alias("_dig")
        )
        .groupBy("_dig")
        .agg(
            F.min(key).alias(key),
            F.expr(f"min_by(alpha_ratio, {key})").alias("alpha_ratio"),
            F.expr(f"min_by(dup_ngram_frac, {key})").alias("dup_ngram_frac"),
        )
        .select(key, "alpha_ratio", "dup_ngram_frac")
    )


def _quality_gated(
    df: DataFrame,
    key: str,
    text: str,
    max_repetition: float,
    min_alpha: float,
    n: int,
    sample_rate: float | None,
    seed: int,
) -> DataFrame:
    """The shared gate stage of the curate pipelines: per-row quality
    metrics + threshold filters (+ optional deterministic hash sample) as
    ONE projection-and-filter over the scan — nothing shuffles. Returns
    (key, text, _t, alpha_ratio, dup_ngram_frac); ``_t`` is the token
    array, so later stages reuse the gate's tokenization."""
    from ..functions.rng import u_sql

    alpha = F.expr(
        f"round(length(regexp_replace({text}, '[^a-zA-Z]', '')) / "
        f"CAST(nullif(length({text}), 0) AS DOUBLE), 6)"
    )
    # Metrics ride through a SINGLE-ELEMENT explode as a PUSHDOWN BARRIER:
    # PushDownPredicates substitutes pushed predicates through project
    # aliases, re-inlining the staged token array as split(text) PER
    # ELEMENT REFERENCE inside the gram lambda (~2(n+1) re-splits per gram
    # per doc — measured 52 s vs ~7 s for the gate pass at 1M docs; a
    # nondeterministic true-conjunct barrier gets constant-folded away).
    # A predicate over a GENERATOR output can never move below the
    # Generate, so the token array stages once, each metric evaluates once
    # per row inside the generator struct, and the filter reads struct
    # fields. One struct+array alloc per row; still zero shuffles.
    gated = (
        df.select(key, F.col(text), tokens_col(text).alias("_t"))
        .select(
            key,
            F.col(text),
            "_t",
            F.explode(
                F.array(
                    F.struct(
                        alpha.alias("alpha_ratio"),
                        _dup_ngram_col("_t", n).alias("dup_ngram_frac"),
                    )
                )
            ).alias("_m"),
        )
        .select(
            key,
            F.col(text),
            "_t",
            F.col("_m.alpha_ratio").alias("alpha_ratio"),
            F.col("_m.dup_ngram_frac").alias("dup_ngram_frac"),
        )
        .where(
            (F.col("alpha_ratio") >= float(min_alpha))
            & (F.col("dup_ngram_frac") <= float(max_repetition))
        )
    )
    if sample_rate is not None:
        gated = gated.where(F.expr(u_sql(key, TAG_SAMPLE, seed)) < float(sample_rate))
    return gated


def curate_near(
    df: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    max_repetition: float = 0.3,
    min_alpha: float = 0.4,
    sample_rate: float | None = None,
    seed: int = 1,
    n: int = 2,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    hasher: str = "xxhash64",
) -> DataFrame:
    """:func:`curate` with NEAR-duplicate dedup in place of the exact
    digest election — the full web-corpus curation composition:

    1. quality gates (+ optional hash sample) — one projection, no shuffle;
    2. the per-doc LSH index over the SURVIVORS (:func:`_lsh_index`): one
       row per gated doc holding its key, both gate metrics and its
       ``bands`` band keys — the gate metrics ride the MinHash aggregate as
       ``min()`` carries, so the corpus is tokenized and gated ONCE;
    3. candidate pairs from ONE band self-join over the index, then the
       exact-Jaccard verify per candidate pair (:func:`_verified_pairs`);
    4. connected components over the verified pairs
       (:func:`dedup_clusters`) — component sizes are bounded by real
       near-dup cliques, not the corpus;
    5. cluster-keeper election over the index: a gated doc survives iff it
       is in no near-dup pair or is its component's minimum key (= the
       component's cluster_id label).

    Docs with fewer than ``shingle_n`` tokens have no signature: they keep
    their index row, never enter the band join, and are elected as
    singletons.

    EAGER: the call itself runs Spark jobs. These ``localCheckpoint``s
    materialize before it returns: the index (one row per gated doc, no
    text), the candidate pairs, the candidate docs' distinct shingle
    arrays (both bounded by band collisions), and dedup_clusters' edges
    and per-round labels. Local checkpoints live on the executors'
    block managers and are not reliable storage: losing an executor that
    holds one fails the jobs that read it, late.

    Returns (key, alpha_ratio, dup_ngram_frac, n_near_dups) where
    ``n_near_dups`` is the size of the keeper's duplicate cluster (1 for
    docs with no near-dup)."""
    gated = _quality_gated(
        df, key, text, max_repetition, min_alpha, n, sample_rate, seed
    )
    index = _lsh_index(
        gated, key, shingle_n, num_hashes, bands, hasher,
        carry=("alpha_ratio", "dup_ngram_frac"),
    )
    # every candidate passed the gate (its band keys came from the index),
    # so the verify reads candidate texts from the RAW corpus and the gate
    # lineage is not re-evaluated
    pairs = _verified_pairs(index, df, key, text, shingle_n, bands, threshold)
    clusters = dedup_clusters(pairs).select(
        F.col("doc_id").alias(key), "cluster_id"
    )
    csize = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("_cn"))
    return (
        index.select(key, "alpha_ratio", "dup_ngram_frac")
        .join(clusters, key, "left")
        .where(F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col(key)))
        .join(csize.withColumnRenamed("cluster_id", key), key, "left")
        .select(
            key,
            "alpha_ratio",
            "dup_ngram_frac",
            F.coalesce(F.col("_cn"), F.lit(1)).cast("long").alias("n_near_dups"),
        )
    )


TAG_SAMPLE = 10  # draw-site tag for hash_sample (disjoint from rng.py tags)

# PII patterns restricted to syntax shared by Java regex (Spark) and RE2
# (DuckDB) so the scrub has an exact cross-engine oracle.
PII_PATTERNS = (
    (r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "[EMAIL]"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    (r"\b\+?\d[\d -]{7,14}\d\b", "[PHONE]"),
)


def hash_sample(
    df: DataFrame, rate: float, key: str = "doc_id", seed: int = 1
) -> DataFrame:
    """Deterministic corpus sampling: keep rows whose keyed hash-uniform is
    below ``rate``. Unlike ``df.sample`` the decision is a PURE FUNCTION of
    (key, seed) — independent of partitioning, task retries, and cluster
    size, so a sample drawn at 1000 executors replays bit-identically on a
    laptop, and disjoint seeds give independent samples (train/val/test
    splits). Plain filter: pushes down, no shuffle."""
    from ..functions.rng import u_sql

    return df.where(F.expr(u_sql(key, TAG_SAMPLE, seed)) < float(rate))


def scrub_pii(df: DataFrame, text: str = "text", out: str | None = None) -> DataFrame:
    """Redact emails / IPv4s / phone-like digit runs with typed placeholder
    tokens (the standard pre-training scrub). Chained ``regexp_replace``
    column expressions — whole-stage codegen, no UDF; patterns are
    deliberately RE2-compatible (see PII_PATTERNS) so the DuckDB oracle is
    exact."""
    col = F.col(text)
    for pat, repl in PII_PATTERNS:
        col = F.regexp_replace(col, pat, repl)
    return df.withColumn(out or text, col)


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    n: int = 13,
    key: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing ANY word
    ``n``-gram with an evaluation set (the standard 13-gram rule from the
    GPT-3/PaLM data pipelines). Returns (train doc_id AS ``doc_id``,
    n_test_docs hit, n_shared_ngrams) — one row per CONTAMINATED train doc;
    the caller anti-joins to drop them.

    Scale shape: both sides reduce to DISTINCT shingles (one projection +
    dedup each), then ONE equi-join on the shingle string — the test side
    is tiny next to the training corpus, so the join broadcasts; shuffle
    volume is bounded by the contaminated overlap, never the corpus."""
    tr = shingles(train, key, text, n).withColumnRenamed(key, "_tr")
    te = shingles(test, key, text, n).withColumnRenamed(key, "_te")
    hits = tr.join(F.broadcast(te), "shingle")
    return (
        hits.groupBy(F.col("_tr").alias(key))
        .agg(
            F.countDistinct("_te").alias("n_test_docs"),
            F.countDistinct("shingle").alias("n_shared_ngrams"),
        )
    )


# Stopword profiles for the n-gram/function-word language-ID heuristic —
# the standard cheap pre-filter of web-scale corpora (a real pipeline swaps
# in fastText/CLD3 scores through the same operator shape).
LANG_PROFILES = {
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "zu", "mit", "auf"),
    "en": ("the", "a", "an", "and", "of", "to", "in", "is", "on", "for"),
    "es": ("el", "los", "las", "que", "es", "una", "por", "con", "para", "del"),
    "fr": ("le", "les", "et", "des", "est", "une", "dans", "pour", "que", "pas"),
}


def language_id(df: DataFrame, key: str = "doc_id", text: str = "text") -> DataFrame:
    """Per-document language guess: share of lowercase tokens hitting each
    language's function-word profile; argmax with alphabetical tie-break;
    'und' when nothing matches. Pure JVM column expressions (lower + split
    + filter + size) — one pass, no shuffle, no Python."""
    toks = F.split(F.trim(F.lower(F.col(text))), TOKENIZE)
    out = df.select(key, toks.alias("_t"))
    langs = sorted(LANG_PROFILES)  # alphabetical => tie-break by rank below
    for lang in langs:
        words = LANG_PROFILES[lang]
        out = out.withColumn(
            f"_s_{lang}",
            # NULL text => score 0 => 'und' (aligned with the DuckDB
            # oracle's coalesce; the explicit isNotNull guard is immune to
            # the legacy size(NULL) = -1 config, where -1/-1 would score 1)
            F.when(
                F.col("_t").isNotNull(),
                F.round(
                    F.size(F.filter(F.col("_t"), lambda t: t.isin(*words))) / F.size("_t"),
                    6,
                ),
            ).otherwise(F.lit(0.0)),
        )
    # max over (score, rank): rank descends alphabetically, so equal scores
    # resolve to the alphabetically-first language.
    choices = F.array(
        *[
            F.struct(
                F.col(f"_s_{lang}").alias("s"),
                F.lit(len(langs) - 1 - i).alias("r"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(langs)
        ]
    )
    best = F.array_max(choices)
    return out.select(
        key,
        F.when(best["s"] > 0, best["lang"]).otherwise(F.lit("und")).alias("language"),
        best["s"].alias("score"),
    )


def dedup_exact(df: DataFrame, key: str = "doc_id", text: str = "text") -> DataFrame:
    """Exact duplicate groups by content hash (md5); keeper = min key.
    Scale: one shuffle on the 128-bit digest, partial-aggregated map-side."""
    return (
        df.groupBy(F.md5(F.col(text)).alias("content_hash"))
        .agg(
            F.min(key).cast("bigint").alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def shingles(
    df: DataFrame, key: str = "doc_id", text: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document (JVM transform+explode)."""
    return (
        df.select(key, tokens_col(text).alias("_t"))
        .select(key, F.explode(_word_grams("_t", n)).alias("shingle"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    key: str = "doc_id",
    text: str = "text",
    n: int = 3,
    max_shingle_df: int | str | None = "auto",
) -> DataFrame:
    """n-gram Jaccard near-duplicate pairs via the shingle inverted index:
    docs sharing >=1 shingle are candidates; |A ∩ B| falls out of the index
    self-join, |A|,|B| from per-doc counts. One shuffle on shingle, one on
    the pair key. EXACT whenever no shingle's doc frequency exceeds
    ``max_shingle_df`` (always true at the contract-gate scales).

    ``max_shingle_df`` drops ubiquitous shingles (stop-shingles) from the
    candidate join — the mandatory skew guard at web scale, where one hot
    shingle makes the self-join quadratic. Default "auto" derives a cap of
    max(4096, 1% of corpus) — a no-op at verification scales (so the exact
    oracle still matches) while bounding any single shingle's join fan-out
    at 100 TB. ``None`` disables the guard (fully exact, unbounded skew).
    When the cap actually drops shingles a ``UserWarning`` reports how many
    (one cheap aggregate job): true pairs can then be missed — the
    denominator |A|+|B|-|A∩B| still counts dropped shingles, so a capped
    run only UNDER-estimates jaccard (no false positives).

    EAGER: the distinct shingle index materializes at call time as a
    ``localCheckpoint`` (not a session cache), read by the sizes, the hot
    set and both join sides; it is released with the returned frame.
    Losing an executor that holds a checkpoint block fails the jobs that
    read it."""
    sh = shingles(df, key, text, n).localCheckpoint(eager=True)
    sizes = sh.groupBy(key).agg(F.count(F.lit(1)).alias("_n"))
    if max_shingle_df == "auto":
        max_shingle_df = max(4096, int(df.count() * 0.01))
    if max_shingle_df is not None:
        # The hot set must materialize anyway as the anti-join's broadcast
        # build side; caching it makes the warn-count job the SAME aggregate
        # the join reuses (the previous version ran the shingle groupBy
        # twice — once eagerly for the count, once inside the join).
        hot = (
            sh.groupBy("shingle")
            .count()
            .where(F.col("count") > max_shingle_df)
            .select("shingle")
            .cache()
        )
        n_hot = hot.count()
        if n_hot:
            import warnings

            warnings.warn(
                f"ngram_jaccard_pairs: dropping {n_hot} shingles with doc "
                f"frequency > {max_shingle_df}; jaccard is under-estimated "
                "for pairs sharing them (pass max_shingle_df=None for the "
                "exact, skew-unbounded join)",
                UserWarning,
                stacklevel=2,
            )
            # The hot set must fit executor memory anyway (it is the
            # anti-join's broadcast build side), so pulling it to the driver
            # is no new bound; the collect reads the warm cache, the cache
            # is then released immediately (no session-lifetime pin), and
            # the anti-join probes a LocalRelation that never re-runs the
            # shingle aggregate.
            hot_df = sh.sparkSession.createDataFrame(
                hot.collect(), schema="shingle string"
            )
            sh = sh.join(F.broadcast(hot_df), "shingle", "left_anti")
        # in both branches the aggregate has fully served its purpose here
        hot.unpersist()
    a = sh.select(F.col(key).alias("d1"), "shingle")
    b = sh.select(F.col(key).alias("d2"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    na = sizes.select(F.col(key).alias("d1"), F.col("_n").alias("_na"))
    nb = sizes.select(F.col(key).alias("d2"), F.col("_n").alias("_nb"))
    return (
        common.join(na, "d1")
        .join(nb, "d2")
        .withColumn(
            "jaccard",
            F.round(F.col("_c") / (F.col("_na") + F.col("_nb") - F.col("_c")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


def fingerprint_winnow(
    df: DataFrame,
    k: int = 3,
    window: int = 4,
    key: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken): hash
    every word k-gram (rolling over the token stream), then keep the MIN
    hash of each sliding window of ``window`` consecutive k-gram hashes —
    the classic guarantee that any shared run of ``k + window - 1`` tokens
    yields at least one shared fingerprint, with ~1/window selection rate.

    Fully declarative: posexplode the k-grams, one Window min over
    (doc, position), distinct. The hash is md5-derived (first 60 bits) so
    the DuckDB oracle computes bit-identical fingerprints."""
    from pyspark.sql.window import Window

    grams = (
        df.select(key, tokens_col(text).alias("_t"))
        .select(key, F.posexplode(_word_grams("_t", k)).alias("_pos", "_gram"))
        .withColumn(
            "_h",
            F.expr("CAST(conv(substring(md5(_gram), 1, 15), 16, 10) AS BIGINT)"),
        )
    )
    # trailing partial windows are kept (same on both engines): they only
    # ever ADD suffix minima, preserving the shared-run guarantee
    w = Window.partitionBy(key).orderBy("_pos").rowsBetween(0, window - 1)
    return (
        grams.withColumn("_fp", F.min("_h").over(w))
        .select(key, F.col("_fp").alias("fingerprint"))
        .distinct()
    )


# Universal-hash family for the md5-mode MinHash: mh_i(s) =
# (a_i * (h60(s) mod P) + b_i) mod P over the Mersenne prime P = 2^31 - 1.
# Plain integer arithmetic (products < 2^62), so the SAME coefficients run
# bit-identically in Spark SQL and DuckDB — the exact-oracle path.
MINHASH_P = 2_147_483_647


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    out = []
    for i in range(num_hashes):
        a = (2_654_435_761 * (i + 1) + 97) % MINHASH_P or 1
        b = (1_103_515_245 * (i + 1) + 12_345) % MINHASH_P
        out.append((a, b))
    return out


def _minhash_cols(shingle: str, num_hashes: int, hasher: str) -> list:
    """Per-shingle hash columns of the MinHash family over the string
    column ``shingle``: signature value i of a doc is the min of column i
    over its shingles. ``hasher='xxhash64'`` seeds the JVM hash per
    permutation; ``hasher='md5'`` maps each shingle through a 60-bit md5
    hash and a universal-hash family mod 2^31-1 (:func:`minhash_coeffs`) —
    slower, but reproducible in DuckDB, giving the LSH pipeline an exact
    oracle."""
    if hasher == "md5":
        hp = (
            f"(CAST(conv(substring(md5({shingle}), 1, 15), 16, 10) AS BIGINT)"
            f" % {MINHASH_P})"
        )
        return [
            F.expr(f"({hp} * {a} + {b}) % {MINHASH_P}")
            for a, b in minhash_coeffs(num_hashes)
        ]
    if hasher == "xxhash64":
        return [F.xxhash64(F.col(shingle), F.lit(i)) for i in range(num_hashes)]
    raise ValueError("hasher must be 'xxhash64' or 'md5'")


def _lsh_index(
    df: DataFrame,
    key: str,
    n: int,
    num_hashes: int,
    bands: int,
    hasher: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The per-doc LSH index: ONE row per doc of ``df`` (which carries the
    token array ``_t``) — (key, *carry, band_0 .. band_{bands-1}) —
    materialized EAGERLY as a ``localCheckpoint``. It holds no text, only
    the band keys and the carries: the standard LSH index a production
    system persists anyway, read by the band self-join and by any later
    stage that needs per-doc values (``carry``).

    The MinHash signature is a per-doc ``min()`` aggregate of
    :func:`_minhash_cols` over the word ``n``-grams, fed WITHOUT a per-doc
    distinct: min over a multiset equals min over its set, and skipping it
    removes a full shuffle of the shingle strings (the partial min
    combines map-side). The ``carry`` columns (constant per doc) ride the
    same aggregate as ``min()`` carries, so no second pass over ``df`` is
    needed. Band b hashes signature rows b*r .. b*r+r-1 (r = num_hashes //
    bands) with the band index folded in: ``xxhash64`` for the default
    hasher, and for ``hasher='md5'`` the collision-free concatenated rows,
    so band membership is EXACTLY "all r values equal" on both engines.

    A doc with fewer than ``n`` tokens has no shingle: ``explode_outer``
    keeps its row (one NULL shingle) and its band keys are NULL, so it
    never joins. The guard is needed with both hashers: ``xxhash64`` and
    ``concat_ws`` skip NULL inputs, so an unguarded empty signature would
    hash to one shared key per band."""
    rows = num_hashes // bands
    mh = _minhash_cols("_sh", num_hashes, hasher)
    sig = (
        df.select(key, *carry, F.explode_outer(_word_grams("_t", n)).alias("_sh"))
        .groupBy(key)
        .agg(
            *[F.min(c).alias(c) for c in carry],
            F.count("_sh").alias("_nsh"),
            *[F.min(h).alias(f"mh_{i}") for i, h in enumerate(mh)],
        )
    )

    def band(b: int):
        cols = [F.col(f"mh_{b * rows + r}") for r in range(rows)]
        if hasher == "md5":
            v = F.concat_ws(",", F.lit(str(b)), *cols)
        else:
            v = F.xxhash64(F.lit(b), *cols)
        return F.when(F.col("_nsh") > 0, v).alias(f"band_{b}")

    return sig.select(key, *carry, *[band(b) for b in range(bands)]).localCheckpoint(
        eager=True
    )


def _band_pairs(index: DataFrame, key: str, bands: int) -> DataFrame:
    """Distinct (d1 < d2) candidate pairs of an :func:`_lsh_index` from ONE
    exploded band self-join: the b band keys explode into (band_idx,
    band_key) rows and self-join once — the same pigeonhole shape as
    hamming_pairs — instead of b sequential joins (b shuffle stages). Both hashers already fold the band index into the
    key, so _b in the join condition is belt-and-braces, not semantics.
    Docs without a signature (NULL band keys) are filtered out first."""
    bv = (
        index.where(F.col("band_0").isNotNull())
        .select(
            key,
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(b).alias("b"), F.col(f"band_{b}").alias("v"))
                        for b in range(bands)
                    ]
                )
            ).alias("_band"),
        )
        .select(key, F.col("_band.b").alias("_b"), F.col("_band.v").alias("_v"))
    )
    l = bv.select(F.col(key).alias("d1"), "_b", "_v")
    r = bv.select(F.col(key).alias("d2"), "_b", "_v")
    return (
        l.join(r, ["_b", "_v"])
        .where(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )


def _verified_pairs(
    index: DataFrame,
    source: DataFrame,
    key: str,
    text: str,
    n: int,
    bands: int,
    threshold: float,
) -> DataFrame:
    """(d1, d2, jaccard) for the index's band candidates whose EXACT word
    ``n``-gram Jaccard reaches ``threshold``. ``source`` supplies the texts
    and must agree with the indexed docs on (key, text).

    Two eager ``localCheckpoint``s, both bounded by band collisions, never
    the corpus: the candidate pairs, and each CANDIDATE doc's distinct
    shingle array (the corpus semi-join-reduces to candidate ids BEFORE
    tokenization). The verify then runs on the pair row: |A ∩ B| is
    ``size(array_intersect)``, |A| and |B| are ``size()`` carried as
    ``_na``/``_nb`` — no shingle rows are exploded, shuffled or joined."""
    cand = _band_pairs(index, key, bands).localCheckpoint(eager=True)
    cd = (
        cand.select(F.col("d1").alias(key))
        .unionByName(cand.select(F.col("d2").alias(key)))
        .distinct()
    )
    sets = (
        source.join(cd, key, "leftsemi")
        .select(key, tokens_col(text).alias("_t"))
        .select(key, F.array_distinct(_word_grams("_t", n)).alias("_s"))
        .localCheckpoint(eager=True)
    )

    def side(d: str, s: str, size: str) -> DataFrame:
        return sets.select(
            F.col(key).alias(d), F.col("_s").alias(s), F.size("_s").alias(size)
        )

    return (
        cand.join(side("d1", "_sa", "_na"), "d1")
        .join(side("d2", "_sb", "_nb"), "d2")
        .select(
            "d1", "d2", "_na", "_nb",
            F.size(F.array_intersect("_sa", "_sb")).alias("_c"),
        )
        .select(
            "d1",
            "d2",
            F.round(F.col("_c") / (F.col("_na") + F.col("_nb") - F.col("_c")), 6).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    key: str = "doc_id",
    text: str = "text",
    n: int = 3,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash-LSH, then EXACT Jaccard
    verification of candidates only (no false positives; false-negative
    rate bounded by the band curve 1-(1-s^r)^b). The scale path when the
    full inverted-index join is too hot.

    ``hasher='md5'`` switches the signatures to the DuckDB-reproducible
    family AND keys the band join on the collision-free concatenated
    signature rows (instead of their xxhash64), so band membership is
    EXACTLY "all r signature values equal" on both engines.

    Shares its index (:func:`_lsh_index`), band self-join and verify
    (:func:`_verified_pairs`) with :func:`curate_near`. EAGER: three
    ``localCheckpoint``s run at call time — the per-doc index, the
    candidate pairs and the candidate docs' shingle arrays. Local
    checkpoints are not reliable storage: losing an executor that holds
    one fails the jobs that read it, late."""
    index = _lsh_index(
        df.select(key, tokens_col(text).alias("_t")), key, n, num_hashes, bands, hasher
    )
    return _verified_pairs(index, df, key, text, n, bands, threshold)


def hamming_pairs(
    df: DataFrame,
    col: str,
    key: str = "doc_id",
    max_hamming: int = 3,
    bands: int | None = None,
) -> DataFrame:
    """All pairs whose 64-bit ``col`` values differ in <= max_hamming bits,
    via the banded pigeonhole join: split the word into ``bands`` contiguous
    bit bands (default max_hamming + 1 — any pair within the threshold must
    agree EXACTLY on at least one band), equi-join on (band index, band
    value), then verify bit_count(xor) on the candidates. No false
    negatives; candidate volume is bucket-bounded like MinHash-LSH — the
    standard scale path for SimHash / pHash dedup over web corpora.

    One exploded equi-join (band id folded into the join key) instead of
    ``bands`` separate self-joins; hashes travel with the explode so the
    verify is join-local."""
    bands = bands if bands is not None else max_hamming + 1
    if not 1 <= bands <= 64:
        raise ValueError("bands must be in [1, 64]")
    w = 64 // bands
    parts = []
    for b in range(bands):
        width = w if b < bands - 1 else 64 - w * (bands - 1)
        lo = b * w
        mask = -1 if width == 64 else (1 << width) - 1
        parts.append(
            F.struct(
                F.lit(b).alias("b"),
                (F.shiftright(F.col(col), lo).bitwiseAND(F.lit(mask))).alias("v"),
            )
        )
    bv = df.select(
        F.col(key).alias("_hk"),
        F.col(col).alias("_hv"),
        F.explode(F.array(*parts)).alias("_band"),
    ).select("_hk", "_hv", F.col("_band.b").alias("_b"), F.col("_band.v").alias("_v"))
    l = bv.select(F.col("_hk").alias("d1"), F.col("_hv").alias("_h1"), "_b", "_v")
    r = bv.select(F.col("_hk").alias("d2"), F.col("_hv").alias("_h2"), "_b", "_v")
    return (
        l.join(r, ["_b", "_v"])
        .where(F.col("d1") < F.col("d2"))
        .withColumn(
            "hamming", F.bit_count(F.col("_h1").bitwiseXOR(F.col("_h2")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
        .distinct()
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    key: str = "doc_id",
    text: str = "text",
    bands: int | None = None,
    hasher: str = "xxhash64",
) -> DataFrame:
    """SimHash near-duplicate pairs: simhash64 + banded hamming join."""
    return hamming_pairs(
        simhash64(df, key, text, hasher), "simhash", key, max_hamming, bands
    )


def dedup_clusters(
    pairs: DataFrame, d1: str = "d1", d2: str = "d2", max_iter: int = 30
) -> DataFrame:
    """Resolve near-duplicate PAIRS into duplicate CLUSTERS (connected
    components) so a corpus can actually be deduplicated: every doc in a
    component maps to cluster_id = the component's minimum doc id (the
    keeper). Iterative min-label propagation — converges in O(component
    diameter) rounds. Round 1 is computed straight from the edges as
    ``least(a, min(b))`` (every node starts labelled with itself); each
    later round is one equi-join + min-aggregate. Near-dup components in
    practice are tiny cliques, so a handful of rounds suffices; raise
    ``max_iter`` for pathological chain topologies (a path of L nodes
    needs L rounds: L - 1 that change a label and one that confirms).

    EAGER: the call itself runs Spark jobs. The symmetric edge list and
    every round's labels materialize as ``localCheckpoint``s (lineage stays
    flat); each round's changed-label count rides its own checkpoint job
    as an ``Observation``, so no round needs a probe job. Local
    checkpoints are not reliable storage: losing an executor that holds
    one fails the jobs that read it, late.

    Returns (doc_id, cluster_id); docs that appear in no pair are their own
    singletons and are simply absent (callers union them back if needed)."""
    from pyspark.sql import Observation

    e = pairs.select(F.col(d1).alias("a"), F.col(d2).alias("b"))
    edges = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().localCheckpoint(eager=True)
    step = edges.groupBy("a").agg(
        F.least(F.col("a"), F.min("b")).alias("label"), F.col("a").alias("_old")
    )
    for _ in range(max_iter):
        obs = Observation()
        labels = (
            step.observe(
                obs,
                F.sum((F.col("label") != F.col("_old")).cast("long")).alias("_n_chg"),
            )
            .select("a", "label")
            .localCheckpoint(eager=True)
        )
        if (obs.get["_n_chg"] or 0) == 0:
            break
        nbr = edges.join(
            labels.select(F.col("a").alias("b"), F.col("label").alias("_nl")), "b"
        ).groupBy("a").agg(F.min("_nl").alias("_best"))
        step = labels.join(nbr, "a", "left").select(
            "a",
            F.least(F.col("label"), F.coalesce("_best", F.col("label"))).alias("label"),
            F.col("label").alias("_old"),
        )
    else:
        raise RuntimeError(f"dedup_clusters did not converge in {max_iter} rounds")
    return labels.select(F.col("a").alias("doc_id"), F.col("label").alias("cluster_id"))


# --- md5 token-hash fragments, written in dialect-shared SQL (valid in
# Spark SQL AND DuckDB) so the md5-mode simhash has an exact oracle twin:
# 15 hex nibbles of md5(token) = a 60-bit token hash; bit i (LSB=0) lives
# in nibble 14 - i//4 at in-nibble position i % 4.
SIMHASH_MD5_BITS = 60


def md5_nibble_sql(h: str, j: int) -> str:
    """Value 0..15 of hex digit ``j`` (0 = most significant) of column h."""
    return f"(instr('0123456789abcdef', substr({h}, {j + 1}, 1)) - 1)"


def md5_bit_sql(i: int) -> str:
    """Bit i of the 60-bit token hash from the prestaged _n{j} nibbles."""
    j, b = 14 - i // 4, i % 4
    return f"(CAST(floor(_n{j} / {1 << b}) AS INT) % 2)"


def simhash64(
    df: DataFrame, key: str = "doc_id", text: str = "text", hasher: str = "xxhash64"
) -> DataFrame:
    """64-bit SimHash over word tokens: per bit, sign of the sum of token
    hash bits. Declarative: explode tokens, aggregate bit votes.

    ``hasher='xxhash64'`` (default) uses the JVM 64-bit hash — fastest, but
    not reproducible outside Spark. ``hasher='md5'`` derives a 60-bit token
    hash from the first 15 hex digits of md5(token) — ~2x the bytes per
    token but bit-identical in DuckDB, giving the sketch (and every
    downstream hamming pair) an EXACT cross-engine oracle; bits 60..63 are
    always 0."""
    if hasher == "md5":
        toks = df.select(key, F.explode(tokens_col(text)).alias("_tok")).withColumn(
            "_h", F.md5("_tok")
        )
        for j in range(15):
            toks = toks.withColumn(f"_n{j}", F.expr(md5_nibble_sql("_h", j)))
        votes = toks.groupBy(key).agg(
            *[
                F.sum(
                    F.expr(f"CASE WHEN {md5_bit_sql(i)} = 1 THEN 1 ELSE -1 END")
                ).alias(f"_v{i}")
                for i in range(SIMHASH_MD5_BITS)
            ]
        )
        expr = " + ".join(
            f"(CASE WHEN _v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            for i in range(SIMHASH_MD5_BITS)
        )
        return votes.select(key, F.expr(expr).alias("simhash"))
    if hasher != "xxhash64":
        raise ValueError("hasher must be 'xxhash64' or 'md5'")
    toks = (
        df.select(key, F.explode(tokens_col(text)).alias("_tok"))
        .withColumn("_h", F.xxhash64("_tok"))
    )
    votes = toks.groupBy(key).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"_v{i}")
            for i in range(64)
        ]
    )
    expr = " + ".join(
        f"IF(_v{i} > 0, CAST({1 << i if i < 63 else -(1 << 63)} AS BIGINT), CAST(0 AS BIGINT))"
        for i in range(64)
    )
    return votes.select(key, F.expr(expr).alias("simhash"))


def embed_quantize(
    emb: DataFrame, key: str = "vec_id", vec: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 quantization of an embedding column — the
    standard 4x storage/bandwidth reduction of a 100 TB vector corpus
    (float32 -> int8 + one float scale per vector):

        scale = max(|v_i|) / 127 ;  q_i = round(v_i / scale)  in [-127, 127]

    Pure projection (transform/array_max — nothing leaves the row); the
    reconstruction v_i ~ q_i * scale is within scale/2 per component
    (asserted in tests). Zero vectors get scale 0.0 and all-zero codes.
    Returns (key, scale, q array<tinyint> as ints)."""
    v = f"transform({vec}, x -> CAST(x AS DOUBLE))"
    amax = f"array_max(transform({v}, x -> abs(x)))"
    scale = f"({amax} / CAST(127 AS DOUBLE))"
    q = (
        f"CASE WHEN {amax} = 0.0 THEN transform({v}, x -> CAST(0 AS INT)) "
        f"ELSE transform({v}, x -> CAST(round(x / {scale}) AS INT)) END"
    )
    return emb.select(
        key,
        F.round(F.expr(scale), 6).alias("scale"),
        F.expr(q).alias("q"),
    )


def cosine_nn(
    emb: DataFrame, key: str = "vec_id", vec: str = "embedding", k: int = 1
) -> DataFrame:
    """Brute-force exact cosine top-k join (the correctness baseline).
    O(n²·d) — fine for verification scales; ``cosine_nn_lsh`` is the
    scale path."""
    from pyspark.sql.window import Window

    e = emb.select(
        F.col(key).alias("_id"),
        F.expr(f"transform({vec}, v -> CAST(v AS DOUBLE))").alias("_v"),
    )
    a = e.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"))
    b = e.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"))
    dot = "aggregate(zip_with(_va, _vb, (p, q) -> p * q), CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)"
    na = "sqrt(aggregate(zip_with(_va, _va, (p, q) -> p * q), CAST(0.0 AS DOUBLE), (acc, z) -> acc + z))"
    nb = "sqrt(aggregate(zip_with(_vb, _vb, (p, q) -> p * q), CAST(0.0 AS DOUBLE), (acc, z) -> acc + z))"
    pairs = (
        a.join(b, F.col("id_a") != F.col("id_b"))
        .withColumn("cos", F.round(F.expr(f"({dot}) / ({na} * {nb})"), 6))
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("cos"), F.asc("id_b"))
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(F.col("id_a").alias(key), F.col("id_b").alias("nn_id"), "cos", F.col("_rn").alias("rank"))
    )


def ivf_cosine_nn(
    emb: DataFrame,
    key: str = "vec_id",
    vec: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 3,
    lloyd_iters: int = 3,
    seed: int = 13,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Approximate NN via an IVF (inverted-file) index — the second scale
    path next to hyperplane LSH: deterministic hash-sampled seed centroids,
    a few Lloyd iterations run as DataFrame aggregations (assign = broadcast
    centroid join + packed argmax; update = groupBy avg), then each vector
    probes its ``n_probe`` nearest centroid lists and scores candidates
    exactly. Candidate volume ~ n * (n_probe / n_centroids) * n instead of
    n² — and unlike LSH, recall degrades gracefully with cluster overlap.

    Everything is JVM-side: dot products via ``zip_with``/``aggregate`` on
    array columns, centroid tables broadcast (n_centroids rows). The Lloyd
    loop is a driver loop of bounded, fixed length — each iteration is one
    broadcast join + one aggregation over the fact table."""
    import numpy as np

    spark = emb.sparkSession
    # L2-normalize once (cosine == dot product afterwards); the divisor is
    # floored at 1e-12 so a zero-norm embedding maps to the zero vector
    # (cos 0 against everything) instead of NULL elements that silently
    # vanish from results. localCheckpoint (not cache) materializes the
    # normalized frame once for its ~4 downstream consumers and leaves no
    # persistent cache entry behind when the operator's result is dropped.
    e = emb.select(
        F.col(key).alias("_id"),
        F.expr(
            f"transform({vec}, v -> CAST(v AS DOUBLE) / "
            f"greatest(sqrt(aggregate(zip_with({vec}, {vec}, (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), "
            f"CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)), 1.0e-12))"
        ).alias("_v"),
    ).localCheckpoint(eager=True)

    if centroids is not None:
        # caller-provided coarse quantizer (e.g. a frozen or closed-form
        # table — the exact-oracle path): skip seeding AND Lloyd
        cents = [(int(c), [float(v) for v in vecs]) for c, vecs in centroids]
        lloyd_iters = 0
    else:
        # deterministic seed centroids: the n_centroids vectors with the
        # smallest keyed hash (order- and partition-independent)
        from ..functions.rng import u_sql

        seeds = (
            e.withColumn("_u", F.expr(u_sql("abs(xxhash64(_id))", 31, seed)))
            .orderBy("_u", "_id")
            .limit(n_centroids)
            .select("_v")
            .collect()
        )
        cents = [(i, [float(x) for x in r["_v"]]) for i, r in enumerate(seeds)]

    DOT = (
        "aggregate(zip_with(_v, _c, (p, q) -> p * q), CAST(0.0 AS DOUBLE), "
        "(acc, z) -> acc + z)"
    )
    PACK = 1 << 32

    def assign(cent_df, rank=1):
        """(id[, _v], cid...) of each vector's `rank` nearest centroids."""
        j = e.crossJoin(F.broadcast(cent_df)).withColumn("_dot", F.expr(DOT))
        # pack (desc dot, asc cid): dot in [-1,1] rounded to 9 dp;
        # (1e9 - dot9) in [0, 2e9], * 2^32 stays < 2^63
        packed = j.select(
            "_id",
            "_cid",
            (
                (F.lit(1_000_000_000) - F.round(F.col("_dot") * 1_000_000_000, 0).cast("bigint"))
                * F.lit(PACK) + F.col("_cid")
            ).alias("_pk"),
        )
        if rank == 1:
            best = packed.groupBy("_id").agg(F.min("_pk").alias("_pk"))
            return best.select("_id", (F.col("_pk") % PACK).alias("_cid"))
        from pyspark.sql.window import Window

        w = Window.partitionBy("_id").orderBy("_pk")
        return (
            packed.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= rank)
            .select("_id", "_cid")
        )

    cent_df = spark.createDataFrame(cents, "_cid int, _c array<double>")
    for _ in range(lloyd_iters):
        a = assign(F.broadcast(cent_df))
        upd = (
            e.join(a, "_id")
            .select("_cid", F.posexplode("_v").alias("_d", "_x"))
            .groupBy("_cid", "_d")
            .agg(F.avg("_x").alias("_m"))
            .groupBy("_cid")
            .agg(F.sort_array(F.collect_list(F.struct("_d", "_m"))).alias("_s"))
            .select("_cid", F.expr("transform(_s, s -> s._m)").alias("_c"))
        )
        # materialize the (n_centroids-row) table each iteration: keeps the
        # plan one-join deep instead of nesting lloyd_iters layers of
        # aggregation into a single mega-plan
        cent_df = spark.createDataFrame(
            [(int(r["_cid"]), [float(v) for v in r["_c"]]) for r in upd.collect()],
            "_cid int, _c array<double>",
        )

    lists = assign(cent_df, rank=1)                 # vector -> its list
    probes = assign(cent_df, rank=n_probe)          # vector -> probed lists
    la = probes.select(F.col("_id").alias("id_a"), "_cid")
    lb = lists.select(F.col("_id").alias("id_b"), "_cid")
    cand = (
        la.join(lb, "_cid")
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = e.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"))
    vb = e.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"))
    dot = "aggregate(zip_with(_va, _vb, (p, q) -> p * q), CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)"
    scored = (
        cand.join(va, "id_a").join(vb, "id_b")
        .withColumn("cos", F.round(F.expr(dot), 6))
    )
    packed = scored.select(
        "id_a",
        (
            (F.lit(1_000_000) - F.round(F.col("cos") * 1_000_000, 0).cast("bigint")) * F.lit(PACK)
            + F.col("id_b")
        ).alias("_pk"),
    )
    best = packed.groupBy("id_a").agg(F.min("_pk").alias("_pk"))
    return best.select(
        F.col("id_a").alias(key),
        (F.col("_pk") % PACK).alias("nn_id"),
        ((F.lit(1_000_000) - F.expr(f"_pk DIV {PACK}")) / 1_000_000.0).alias("cos"),
    )


def cosine_nn_lsh(
    emb: DataFrame,
    key: str = "vec_id",
    vec: str = "embedding",
    planes: int = 12,
    tables: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Approximate NN via random-hyperplane LSH: ``tables`` independent
    sign-sketch buckets; candidates = bucket collisions; exact cosine on
    candidates; per-vector argmax. Recall < 1 by design (the scale path —
    candidate volume is O(n·bucket) instead of O(n²)).

    Hyperplanes ship as a BROADCAST plane table joined to the vectors (one
    `zip_with` dot product per (vector, plane) row) — never as inlined SQL
    literals, which at dim >= 256 used to blow Catalyst analysis/codegen
    (tables * planes * dim literals in one expression tree). All ``tables``
    band joins collapse into ONE equi-join on (table id, bucket).

    The per-vector argmax is min over a packed BIGINT — cos is already
    rounded to 6 dp, so (round(cos*1e6), id) packs losslessly into 63 bits
    and the aggregate hash-aggregates with map-side partials instead of
    planning a SortAggregate over every candidate pair. Precondition:
    0 <= id < 2^32."""
    import numpy as np

    spark = emb.sparkSession
    dim = len(emb.select(vec).head()[0])
    rs = np.random.RandomState(seed)
    plane_rows = [
        (t, p, [float(x) for x in rs.standard_normal(dim)])
        for t in range(tables)
        for p in range(planes)
    ]
    pl = spark.createDataFrame(plane_rows, "t int, p int, plane array<double>")

    e = emb.select(
        F.col(key).alias("_id"),
        F.expr(f"transform({vec}, v -> CAST(v AS DOUBLE))").alias("_v"),
    )
    proj = e.crossJoin(F.broadcast(pl)).withColumn(
        "_bit",
        F.expr(
            "CASE WHEN aggregate(zip_with(_v, plane, (a, b) -> a * b), "
            "CAST(0.0 AS DOUBLE), (acc, z) -> acc + z) > 0 THEN 1 ELSE 0 END"
        ),
    )
    buckets = proj.groupBy("_id", "t").agg(
        F.sum(F.expr("_bit * shiftleft(CAST(1 AS BIGINT), p)")).alias("_bucket")
    )
    l = buckets.select(F.col("_id").alias("id_a"), "t", "_bucket")
    r = buckets.select(F.col("_id").alias("id_b"), "t", "_bucket")
    cand = (
        l.join(r, ["t", "_bucket"])
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = e.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"))
    vb = e.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"))
    dot = "aggregate(zip_with(_va, _vb, (p, q) -> p * q), CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)"
    na = "sqrt(aggregate(zip_with(_va, _va, (p, q) -> p * q), CAST(0.0 AS DOUBLE), (acc, z) -> acc + z))"
    nb = "sqrt(aggregate(zip_with(_vb, _vb, (p, q) -> p * q), CAST(0.0 AS DOUBLE), (acc, z) -> acc + z))"
    scored = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", F.round(F.expr(f"({dot}) / ({na} * {nb})"), 6))
    )
    # pack (desc cos, asc id_b) into one BIGINT: minimize (-cos6, id_b)
    PACK = 1 << 32
    packed = scored.select(
        "id_a",
        (
            (F.lit(1_000_000) - F.round(F.col("cos") * 1_000_000, 0).cast("bigint")) * F.lit(PACK)
            + F.col("id_b")
        ).alias("_pk"),
    )
    best = packed.groupBy("id_a").agg(F.min("_pk").alias("_pk"))
    decoded = best.select(
        "id_a",
        (F.col("_pk") % F.lit(PACK)).alias("id_b"),
        ((F.lit(1_000_000) - F.expr(f"_pk DIV {PACK}")) / 1_000_000.0).alias("cos"),
    )
    return decoded.select(
        F.col("id_a").alias(key), F.col("id_b").alias("nn_id"), F.col("cos")
    )
