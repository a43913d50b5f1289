"""Text-analysis operators for training-data pipelines (north-star M5).

Everything here is built-in ``pyspark.sql.functions`` only — no Python UDFs
in the hot path. At 100 TB these run inside whole-stage codegen directly over
the parquet scan, so throughput is bounded by IO, not by a Python worker pool.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# tiny per-language stopword lists for the n-gram/stopword heuristic
# language-ID (public-knowledge word lists)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "sich", "auf"],
    "fr": ["le", "la", "et", "les", "des", "est", "pas", "que", "une", "dans"],
    "es": ["el", "la", "que", "de", "los", "se", "las", "por", "un", "para"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (lowercased)."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count; empty/null-safe."""
    return F.when(
        F.length(F.trim(text)) == 0, F.lit(0)
    ).otherwise(F.size(tokens(text)))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token estimate: split on word boundaries + punctuation
    (a cheap regex stand-in for a BPE tokenizer; the plumbing point is a
    deterministic per-document token budget column)."""
    cleaned = F.regexp_replace(text, r"[^\p{L}\p{N}]+", " ")
    words = F.filter(F.split(F.trim(cleaned), r"\s+"), lambda w: F.length(w) > 0)
    # approx: 1 token per word plus one per 4 chars beyond the first 4
    extra = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.greatest(F.ceil(F.length(w) / 4), F.lit(1)),
    )
    return extra


def punct_ratio(text: Column) -> Column:
    n_punct = F.length(F.regexp_replace(text, r"[^\p{Punct}]", ""))
    return F.when(F.length(text) > 0, n_punct / F.length(text)).otherwise(F.lit(0.0))


def alpha_ratio(text: Column) -> Column:
    n_alpha = F.length(F.regexp_replace(text, r"[^\p{L}]", ""))
    return F.when(F.length(text) > 0, n_alpha / F.length(text)).otherwise(F.lit(0.0))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    toks = tokens(text)
    hits = F.size(
        F.filter(toks, lambda t: t.isin(*STOPWORDS[lang]))
    )
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: rewards alpha density and stopword
    presence, penalizes extreme length and punctuation walls."""
    length_ok = F.when((F.length(text) >= 20) & (F.length(text) <= 20000), 1.0).otherwise(0.3)
    return F.round(
        (alpha_ratio(text) * 0.4
         + (1.0 - F.least(punct_ratio(text) * 4, F.lit(1.0))) * 0.2
         + F.least(stopword_ratio(text) * 5, F.lit(1.0)) * 0.2
         + length_ok * 0.2),
        6,
    )


def lang_id(text: Column) -> Column:
    """Stopword-vote language ID over the STOPWORDS table; 'und' when no
    votes. Pure column expressions — the per-language scores become a single
    projected row of counters, argmax via greatest+when chain."""
    toks = tokens(text)

    def hit_counter(sw):  # closure factory: keeps the lambda unary
        return lambda t: t.isin(*sw)

    scores = {
        lang: F.size(F.filter(toks, hit_counter(sw)))
        for lang, sw in STOPWORDS.items()
    }
    best = F.greatest(*scores.values())
    out = F.lit("und")
    # deterministic preference order on ties: en > de > fr > es
    for lang in reversed(list(STOPWORDS)):
        out = F.when((best > 0) & (scores[lang] == best), lang).otherwise(out)
    return out


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.
    (md5 is identical across engines → oracle-checkable; a rolling/locality
    hash variant lives in dedup.simhash.)"""
    normalized = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    return F.md5(normalized)


def ngram_topk(
    df: DataFrame, text_col: str = "text", n: int = 2, k: int = 20
) -> DataFrame:
    """Top-k most frequent word n-grams across the corpus (vocabulary/
    boilerplate analysis). Explode → count → TakeOrdered: the count shuffle
    is keyed by n-gram with map-side partial aggregation; ties broken by
    the n-gram string for determinism."""
    # token array materialized in its own projection BEFORE the gram
    # lambda: a tokenizer captured inside an (interpreted) HOF lambda
    # re-splits the document per gram — O(tokens²); a column reference
    # per element is a row-field read
    tokd = df.select(
        F.split(
            F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " "), " "
        ).alias("__toks")
    )
    toks = F.col("__toks")
    cnt = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    # sequence(1, 0) would generate a DESCENDING [1, 0] — guard empty docs
    idx = F.when(cnt >= 1, F.sequence(F.lit(1), cnt)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return (
        tokd.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("ngram").asc())
        .limit(k)
    )


def word_ngrams(text: Column, n: int) -> Column:
    """Array of word n-grams (space-joined) over whitespace tokens.

    Built as arrays_zip of n shifted slices + one transform — NOT as
    transform(sequence, i -> slice(toks, i, n)): higher-order functions
    are interpreted, so any expression inside the lambda re-evaluates PER
    ELEMENT, and with the tokenizing split captured in the lambda that
    meant re-splitting the full document once per gram — O(tokens²) chars
    per doc (measured as the dominant cost of every n-gram operator at
    ~2k tokens/doc). The zip form evaluates the split n times per ROW."""
    toks = tokens(text)
    cnt = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, cnt) for i in range(n)])
    return F.transform(
        zipped,
        lambda s: F.concat_ws(" ", *[s.getField(str(i)) for i in range(n)]),
    )


def _distinct_count_sorted(arr: Column) -> Column:
    """Distinct-element count via array_sort + one linear transition fold —
    the same O(n log n) trick as _modal_run_length below. array_distinct
    on a string array is quadratic element-compare in Spark's codegen
    (measured: the dominant per-row cost of the curation funnel at ~2k
    grams/doc); sort + count-boundaries returns the identical count."""
    srt = F.array_sort(arr)
    init = F.struct(
        F.lit(None).cast("string").alias("prev"), F.lit(0).alias("cnt")
    )

    def step(acc, g):
        cnt = F.when(
            acc.getField("prev").isNull() | (g != acc.getField("prev")),
            acc.getField("cnt") + 1,
        ).otherwise(acc.getField("cnt"))
        return F.struct(g.alias("prev"), cnt.alias("cnt"))

    return F.aggregate(srt, init, step).getField("cnt")


def dup_ngram_fraction(text: Column, n: int = 3) -> Column:
    """Fraction of word n-grams that are repeats of an earlier n-gram
    (1 - distinct/total). Gopher uses duplicate 2..4-gram fractions to cull
    templated/spammy documents. Pure array expression, zero shuffle; the
    distinct count runs as sort+fold (see _distinct_count_sorted) instead
    of the quadratic array_distinct."""
    grams = word_ngrams(text, n)
    return F.when(
        F.size(grams) > 0, 1 - _distinct_count_sorted(grams) / F.size(grams)
    )


def _modal_run_length(arr: Column) -> Column:
    """Count of the most frequent element: sort the array, then the longest
    run of equal adjacent elements — one O(n log n) sort + one linear fold
    per row. Avoids the O(distinct·n) nested-lambda count-each-distinct
    form, whose interpreted inner filter dominates at corpus scale."""
    srt = F.array_sort(arr)
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc, g):
        run = F.when(g == acc.getField("prev"), acc.getField("run") + 1).otherwise(
            F.lit(1)
        )
        return F.struct(
            g.alias("prev"),
            run.alias("run"),
            F.greatest(acc.getField("best"), run).alias("best"),
        )

    return F.aggregate(srt, init, step).getField("best")


def repetition_metrics(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    explode: bool = False,
) -> DataFrame:
    """Per-document repetition/boilerplate metrics: token count, unique-word
    ratio, duplicate-trigram fraction, top-bigram fraction.

    explode=False (default): all metrics as array expressions — single scan,
    zero shuffle. explode=True: the top-bigram share goes through
    explode → groupBy(doc, gram) → groupBy(doc) — two massively-parallel
    shuffles, linear per-row cost, the safer shape when documents can be
    arbitrarily long (100 TB web-crawl posture).

    The gram/token arrays are materialized as columns FIRST and the ratio
    expressions reference those attributes (lambda bodies re-evaluate their
    argument expression per element — materializing keeps each array built
    once per row); the modal count is a sort + longest-equal-run fold
    (_modal_run_length), linear-ish per row with no nested lambda."""
    t = F.col(text_col)
    arrs = df.select(
        id_col,
        token_count(t).alias("n_tokens"),
        tokens(t).alias("__toks"),
        word_ngrams(t, 3).alias("__tri"),
        *([] if explode else [word_ngrams(t, 2).alias("__bi")]),
    )
    toks, tri, bi = F.col("__toks"), F.col("__tri"), F.col("__bi")
    modal = _modal_run_length(bi)
    base = arrs.select(
        id_col,
        "n_tokens",
        F.when(
            F.size(toks) > 0, F.size(F.array_distinct(toks)) / F.size(toks)
        ).alias("uniq_word_ratio"),
        F.when(
            F.size(tri) > 0, 1 - F.size(F.array_distinct(tri)) / F.size(tri)
        ).alias("dup_trigram_frac"),
        *(
            []
            if explode
            else [F.when(F.size(bi) > 0, modal / F.size(bi)).alias("top_bigram_frac")]
        ),
    )
    if not explode:
        return base
    tops = (
        df.select(id_col, F.explode(word_ngrams(t, 2)).alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg((F.max("c") / F.sum("c")).alias("top_bigram_frac"))
    )
    return base.join(tops, on=id_col, how="left")


def analyze(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass text-analysis projection over a documents table."""
    t = F.col(text_col)
    return df.select(
        "*",
        token_count(t).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_tokens_bpe"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        F.round(alpha_ratio(t), 6).alias("alpha_ratio"),
        F.round(stopword_ratio(t), 6).alias("stopword_ratio_en"),
        quality_score(t).alias("quality"),
        lang_id(t).alias("lang_guess"),
        fingerprint(t).alias("fingerprint"),
    )


def ngram_contamination(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, the fraction of its
    DISTINCT word n-grams that appear anywhere in the eval set — the
    standard check that training data does not contain (near-)copies of
    evaluation benchmarks.

    Shape at 100 TB: the eval side is tiny relative to the corpus, so its
    distinct n-gram set is aggregated once and broadcast; the corpus side
    explodes to (doc, gram), joins the broadcast set, and re-aggregates per
    doc — the only corpus-keyed shuffle is the per-doc groupBy. When the
    eval n-gram set outgrows broadcast, drop the hint and the same plan
    shuffles both sides on the gram key.

    Returns (id_col, n_grams, n_hit, contamination) per corpus document
    with at least one n-gram.
    """
    from .dedup import widen_thin_input, word_shingles

    # shingling+explode is the dominant CPU cost and inherits the scan's
    # partitioning — widen a corpus that arrives in few files
    corpus = widen_thin_input(corpus)

    eval_grams = (
        eval_set.select(F.explode(word_shingles(F.col(text_col), n)).alias("gram"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    corpus_grams = corpus.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), n)).alias("gram")
    )
    return (
        corpus_grams.join(F.broadcast(eval_grams), on="gram", how="left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("__hit").alias("n_hit"),
        )
        .withColumn("contamination", F.col("n_hit") / F.col("n_grams"))
    )


def bm25_scores(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every corpus document against a query set —
    (query_id, doc_id, score) for documents containing ≥1 query term.

    Okapi BM25: score(q,d) = Σ_{t∈q} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl)),
    idf(t) = ln(1 + (N−df+0.5)/(df+0.5)).

    Shape at 100 TB (the inverted-index discipline without materializing
    one): the corpus is tokenized ONCE; the tiny distinct query-term set
    broadcasts into that stream, so term frequencies are aggregated only
    for matched terms — a shuffle keyed by (doc, term) over matched
    postings, never the full vocabulary. Document lengths and the (N,
    avgdl) scalars come from the same scan, join back broadcast-sized.

    Determinism across engines: each term's contribution is rounded to 8
    dp and summed as DECIMAL(18,8) — an exact, order-independent sum, so
    results are reproducible run-to-run (float Σ under a shuffled groupBy
    is not) and hash-comparable against an external SQL oracle (ln differs
    from libm-to-libm in the last ulp; 8 dp is ~8 orders coarser)."""
    from pyspark import StorageLevel

    toks = corpus.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    # persisted: doc-count-sized and consumed TWICE (the (N, avgdl) scalar
    # aggregate + the per-pair length join) — unpersisted, each consumer
    # re-tokenized the corpus
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )

    qterms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(tokens(F.col(query_text_col))).alias("term"),
    ).distinct()

    tf = (
        toks.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(qterms), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    sat = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    contrib = F.round(idf * sat, 8).cast("decimal(18,8)")
    # score stays DECIMAL: the exact sum ranks and thresholds identically
    # everywhere. Surfacing as double belongs to the caller — and must go
    # round(decimal)→double, never round(double): a sum like 0.51944750
    # lands BELOW the tie as a double, so double-rounding breaks ties
    # differently engine-to-engine (Spark rounds the shortest decimal
    # representation, DuckDB the binary value).
    return scored.groupBy("query_id", F.col(id_col)).agg(
        F.sum(contrib).alias("score")
    )


def bm25_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    **kwargs,
) -> DataFrame:
    """Top-k documents per query by BM25 (ties broken by doc id — total
    order, deterministic). Per-query window over the scored pairs; the
    pair space is already bounded by matched postings."""
    from pyspark.sql.window import Window as W

    scored = bm25_scores(corpus, queries, **kwargs)
    id_col = [c for c in scored.columns if c not in ("query_id", "score")][0]
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def word_spans(text: Column, w: int) -> Column:
    """ALL ``w``-word spans (with multiplicity, unlike word_shingles'
    distinct sets) — the unit of exact-substring dedup."""
    # zip of w shifted slices — the tokenizer must not sit inside the
    # (interpreted) HOF lambda, where it would re-split per span; see
    # word_ngrams for the measured cost
    toks = tokens(text)
    cnt = F.greatest(F.size(toks) - (w - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, cnt) for i in range(w)])
    return F.transform(
        zipped,
        lambda s: F.concat_ws(" ", *[s.getField(str(i)) for i in range(w)]),
    )


def repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring duplication detector (the Lee et al. "Deduplicating
    Training Data Makes Language Models Better" shape): every ``w``-word
    span occurring in ≥ ``min_docs`` DISTINCT documents, with its corpus
    frequency — the removal candidates of substring-level dedup, and the
    diagnostic behind boilerplate discovery.

    One explode + one groupBy keyed by the span: shuffle size is
    (tokens − w + 1) rows per doc, aggregation state one counter pair per
    distinct span. At 100 TB, span strings can be md5'd before the shuffle
    to cap key width (identical grouping, 16-byte keys); kept as text here
    so the output is directly human-readable."""
    spans = df.select(
        F.col(id_col), F.explode(word_spans(F.col(text_col), w)).alias("span")
    )
    return (
        spans.groupBy("span")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


# public-knowledge PII patterns (regex syntax valid in both Java and RE2,
# so the same pattern string runs in Spark and external SQL oracles)
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?[0-9]{1,3}[-. ]?(\([0-9]{2,4}\)[-. ]?)?[0-9]{3,4}[-. ][0-9]{3,4}([-. ][0-9]{2,4})?", "<PHONE>"),
    ("ipv4", r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    ("ssn_like", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<ID>"),
]


def scrub_pii(text: Column) -> Column:
    """Replace PII-shaped substrings (emails, phone numbers, IPv4s,
    SSN-like ids) with typed placeholders — the redaction pass a
    training-data pipeline runs before anything else sees the text. Chained
    regexp_replace: pure codegen, no UDF; SSN before phone (a dashed SSN
    also matches the looser phone shape)."""
    out = text
    # most-specific first: SSN and IPv4 shapes also match the looser phone
    # pattern in part, so they must be replaced before it runs
    for name, pat, repl in [PII_PATTERNS[3], PII_PATTERNS[0], PII_PATTERNS[2], PII_PATTERNS[1]]:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_hit_counts(text: Column) -> Column:
    """struct of per-category PII match counts — the audit signal (how much
    redaction happened) without storing the redacted content."""
    return F.struct(
        *[
            F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0))).alias(name)
            for name, pat, _ in PII_PATTERNS
        ]
    )


def curation_verdict(
    text: Column,
    min_chars: int = 20,
    max_chars: int = 20000,
    min_alpha: float = 0.6,
    max_dup3: float = 0.5,
) -> Column:
    """The composed keep/drop decision of a curation funnel, with the FIRST
    failing rule as the verdict (ordered: too_short → too_long →
    low_alpha → repetitive → keep). One projected CASE expression — the
    whole funnel is a single codegen pass over the scan, and grouping by
    the verdict yields the per-reason rejection counts a pipeline reports.
    Thresholds are corpus-tuned parameters; defaults suit prose.

    Rules that CANNOT fire are omitted from the expression entirely:
    ``max_dup3 >= 1`` (a fraction never exceeds 1) and ``min_alpha <= 0``
    are the conventional "rule disabled" settings, and the n-gram
    array_distinct behind dup3 is by far the funnel's dominant per-row
    cost — pipelines that disable it must not pay for it (measured:
    7.6 s → 1.3 s over 5 000 sf0.1 docs with dup3 disabled)."""
    out = F.when(F.length(text) < min_chars, F.lit("too_short")).when(
        F.length(text) > max_chars, F.lit("too_long")
    )
    if min_alpha > 0.0:
        out = out.when(alpha_ratio(text) < min_alpha, F.lit("low_alpha"))
    if max_dup3 < 1.0:
        out = out.when(dup_ngram_fraction(text, 3) > max_dup3, F.lit("repetitive"))
    return out.otherwise(F.lit("keep"))


def curate(df: DataFrame, text_col: str = "text", **thresholds) -> DataFrame:
    """Corpus through the funnel: every row tagged with its verdict;
    ``df.filter(verdict == 'keep')`` is the surviving corpus, the verdict
    histogram is the funnel report."""
    return df.withColumn("verdict", curation_verdict(F.col(text_col), **thresholds))


def unigram_logprob_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 5000,
    floor_count: float = 0.5,
) -> DataFrame:
    """Corpus-trained unigram language-model quality score per document —
    (id, n_tokens, logprob) where logprob is the mean per-token
    ln P(token) under the corpus's own unigram distribution. The CCNet /
    Wikipedia-LM filtering signal: documents whose tokens are collectively
    improbable (gibberish, boilerplate alphabets, wrong language) score
    low; fluent in-distribution text scores high. Reference analog: a
    post-aggregation COMPUTATION over corpus statistics (bullet-core
    PostAggregation), exercised here as a two-pass train+score pipeline.

    Shape at 100 TB: tokenize once per pass; the count aggregation is
    map-side combinable (state = one counter per distinct token, vocab ≪
    data); the top-``vocab_size`` cut is a TakeOrdered over the reduced
    counts (ties broken by token — total order); the vocabulary + the
    (total-token, floor) scalars broadcast back into the scoring pass,
    which regroups by document. Out-of-vocabulary tokens get the floor
    probability ``floor_count / total`` (a half-count by default) — the
    standard smoothing so rare-token documents are penalized, not NaN'd.

    Determinism across engines: each token's ln-contribution is rounded
    to 8 dp and summed as DECIMAL(18,8) (exact, order-independent — the
    bm25_scores posture; libm ln differs in the last ulp), and the mean
    divides the exact decimal sum by the exact token count as doubles."""
    from pyspark import StorageLevel

    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    # persisted: vocab-sized (one row per distinct token, ≪ corpus) and read
    # by BOTH the top-V cut and the grand total — without it each consumer
    # re-tokenizes the corpus (the minhash-signature persistence discipline)
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    vocab = counts.orderBy(F.desc("c"), "term").limit(vocab_size)
    total = counts.agg(F.sum("c").cast("double").alias("total"))
    scored = (
        toks.join(F.broadcast(vocab), "term", "left")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "lp",
            F.round(
                F.log(
                    F.coalesce(F.col("c").cast("double"), F.lit(float(floor_count)))
                    / F.col("total")
                ),
                8,
            ).cast("decimal(18,8)"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            F.sum("lp").cast("double") / F.count(F.lit(1)), 6
        ).alias("logprob"),
    )


def scrub_repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring dedup, the REMOVAL half (Lee et al. §4.1: delete
    every ``w``-token span that repeats across the corpus, keep the
    remainder) — (id, clean_text, n_tokens, n_removed). repeated_spans
    finds the candidates; this rebuilds each document with every token
    covered by a ≥``min_docs``-document span deleted.

    Plan: spans with their 0-based start positions (posexplode over the
    word_spans array) PERSIST across their two consumers (frequency +
    coverage — recomputing the explode doubled wall clock);
    corpus-frequent spans via one span-keyed groupBy, covered token
    indices = exploded [pos, pos+w) ranges of matching spans,
    de-duplicated and re-grouped per document, then an array_except over
    index arrays rebuilds the text (hash-based set difference — a
    per-token array_contains probe is quadratic on boilerplate-heavy
    docs where coverage approaches the whole text). All built-ins, no
    UDF. At 100 TB the span key would additionally be md5'd before the
    shuffle (16-byte keys, identical grouping).

    Documents shorter than ``w`` tokens have no spans and pass through
    unchanged; a fully-covered document yields an empty clean_text (its
    content exists verbatim elsewhere) — dropping or keeping those rows
    is the caller's policy decision."""
    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    from pyspark import StorageLevel

    spans = df.select(
        F.col(id_col),
        F.posexplode(word_spans(F.col(text_col), w)).alias("pos", "span"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    frequent = (
        spans.groupBy("span")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("span")
    )
    covered = (
        spans.join(frequent, "span", "left_semi")
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (w - 1))).alias(
                "cov"
            ),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.collect_set("cov").alias("__cov"))
    )
    # rebuild via hash-based set difference over INDEX arrays: array_except
    # is O(tokens + covered) per doc where a per-token array_contains probe
    # is O(tokens x covered) — the difference is 10x wall on boilerplate-
    # heavy corpora where coverage approaches the whole document
    rebuilt = (
        base.join(covered, id_col, "left")
        .withColumn(
            "__cov",
            F.coalesce(F.col("__cov"), F.array().cast("array<int>")),
        )
        .withColumn(
            "__keep_idx",
            F.array_sort(
                F.array_except(
                    F.sequence(F.lit(0), F.size("__toks") - 1), F.col("__cov")
                )
            ),
        )
        .withColumn(
            "__kept",
            F.transform(
                "__keep_idx", lambda i: F.element_at(F.col("__toks"), i + 1)
            ),
        )
    )
    return rebuilt.select(
        F.col(id_col),
        F.concat_ws(" ", "__kept").alias("clean_text"),
        F.size("__toks").alias("n_tokens"),
        F.size("__cov").alias("n_removed"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 128,
    stride: int = 96,
) -> DataFrame:
    """Split long documents into overlapping fixed-token training windows
    (the long-document preprocessing step before sequence packing: window
    w starts at token w·stride and takes ``max_tokens`` tokens; overlap =
    max_tokens − stride). Emits (id, chunk_id, chunk_text,
    n_chunk_tokens); a document shorter than ``max_tokens`` yields one
    chunk of itself, and windows are emitted while their start is inside
    the document — the Hugging-Face return_overflowing_tokens contract.

    Pure built-ins (sequence → slice → posexplode) — per-row narrow work,
    no shuffle, no UDF: chunking distributes trivially at any scale."""
    if stride <= 0 or max_tokens <= 0:
        raise ValueError("max_tokens and stride must be positive")
    # token array materialized BEFORE the chunk lambda (interpreted HOF:
    # a tokenizer captured in the lambda re-splits the doc per window)
    tokd = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(stride)
    )
    chunks = F.transform(
        starts, lambda s: F.concat_ws(" ", F.slice(toks, s + 1, max_tokens))
    )
    return tokd.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_id", "chunk_text"),
    ).withColumn(
        "n_chunk_tokens", F.size(tokens(F.col("chunk_text")))
    )


def perplexity_buckets(
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "logprob",
    lang_col: str | None = None,
    bounds: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
) -> DataFrame:
    """CCNet's head/middle/tail split: rank documents by LM score within
    each language and bucket by rank fraction — 'head' is the most
    in-distribution (lowest perplexity = highest mean log-prob) third,
    'tail' the least; CCNet trains on head+middle and drops tail. Input
    is a scores frame (e.g. unigram_logprob_scores joined with a lang
    column); the split is a percent_rank window per language with a
    (score, id) total order, so bucket assignment is deterministic
    across engines and reruns. One exchange on the language key (or one
    single-partition window when lang_col is None — score frames are
    doc-count-sized, far below corpus bytes)."""
    from pyspark.sql.window import Window as _W

    w = (
        _W.partitionBy(lang_col) if lang_col is not None else _W.partitionBy()
    ).orderBy(F.col(score_col).desc(), F.col(id_col))
    pr = F.percent_rank().over(w)
    b0, b1 = bounds
    return scores.withColumn(
        "bucket",
        F.when(pr < b0, "head").when(pr < b1, "middle").otherwise("tail"),
    )


def bigram_logprob_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.8,
    broadcast_vocab_below: int | None = 5_000_000,
) -> DataFrame:
    """Interpolated bigram language-model score per document —
    (id, n_bigrams, logprob) where logprob is the mean per-position
    ln of  lam·P(w2|w1) + (1−lam)·P(w2)  under the corpus's own counts
    (Jelinek-Mercer interpolation; the step up from
    unigram_logprob_scores that also penalizes improbable WORD ORDER —
    shuffled or machine-mangled text scores near its unigram bound,
    fluent text scores higher). Documents with fewer than 2 tokens have
    no bigram positions and are absent from the output.

    Shape at 100 TB: tokenize once into a persisted position frame read
    by all three consumers (bigram counts, unigram counts, scoring); the
    two count aggregations are map-side combinable (state = #distinct
    grams ≪ data). Scoring joins positions→bigram counts on the bigram
    key — ONE corpus-sized shuffle join (the bigram table is too big to
    broadcast at scale) — while the unigram sides ride broadcasts only
    below ``broadcast_vocab_below`` distinct terms (one bounded scalar
    over the persisted count frame; a web-scale typo/URL-heavy vocab can
    exceed any broadcast budget — above it AQE picks the joins).
    Every ln term is rounded to 8 dp and summed as DECIMAL(18,8), the
    engine-portable arithmetic used by bm25/unigram scoring.
    """
    from pyspark import StorageLevel

    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__t"))
    pairs = (
        toks.select(
            F.col(id_col),
            F.posexplode(
                F.zip_with(
                    F.slice(F.col("__t"), 1, F.greatest(F.size("__t") - 1, F.lit(0))),
                    F.slice(F.col("__t"), 2, F.greatest(F.size("__t") - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("pos", "bg"),
        )
        .select(F.col(id_col), F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    uni = (
        pairs.select(F.col("w2").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cu"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # unigram context counts c(w1) over the same positions: sum of cb by w1
    ctx = big.groupBy("w1").agg(F.sum("cb").alias("cc"))
    total = uni.agg(F.sum("cu").cast("double").alias("total"))
    if broadcast_vocab_below is not None:
        # bounded: one scalar over the persisted vocab frame; ctx shares
        # uni's cardinality class (distinct w1 ≤ distinct tokens)
        vocab_small = uni.count() <= broadcast_vocab_below
    else:
        vocab_small = False
    _b = F.broadcast if vocab_small else (lambda d: d)
    lp = F.round(
        F.log(
            F.lit(float(lam)) * F.col("cb") / F.col("cc")
            + F.lit(1.0 - float(lam)) * F.col("cu") / F.col("total")
        ),
        8,
    ).cast("decimal(18,8)")
    scored = (
        pairs.join(big, ["w1", "w2"])  # every pair exists in its own counts
        .join(_b(ctx), "w1")
        .join(_b(uni.withColumnRenamed("w", "w2")), "w2")
        .crossJoin(F.broadcast(total))
        .withColumn("__lp", lp)
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.sum("__lp").cast("double") / F.count(F.lit(1)), 6).alias(
            "logprob"
        ),
    )


def collocations_pmi(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 50,
    broadcast_vocab_below: int | None = 5_000_000,
) -> DataFrame:
    """Top collocations by pointwise mutual information —
    (w1, w2, pair_count, pmi): word pairs that co-occur adjacently far
    more than their independent frequencies predict (fixed phrases,
    named entities, templated boilerplate). The lexical-analysis
    companion to bigram_logprob_scores: the LM asks "how probable is
    this document", PMI asks "which pairs glue the corpus together".

    pmi = ln( (cb/N) / ((c1/T)·(c2/T)) ) with cb = adjacent-pair count
    (N pairs total), c1/c2 = token counts over all T tokens;
    ``min_count`` suppresses the classic PMI low-frequency explosion.

    Scale shape: two tokenize passes (unigram, pair), each aggregating to
    a gram-vocab-sized count frame with map-side partials; BOTH totals
    are one-row aggs over those persisted reduced frames, cross-joined
    back as broadcasts — never a driver-side count() that would
    re-tokenize the corpus, and never an unpartitioned window that would
    funnel the whole vocab through one task. Unigram counts broadcast
    into the pair frame only below ``broadcast_vocab_below`` distinct
    terms (~300 MB at the default; a web-scale typo/URL-heavy vocab can
    exceed any broadcast budget — above it AQE picks the join); the
    top-n is TakeOrderedAndProject on (rounded pmi, w1, w2) — a total
    order, so the cut is deterministic cross-engine."""
    from pyspark import StorageLevel

    toks = df.select(tokens(F.col(text_col)).alias("__t"))
    uni = (
        toks.select(F.explode("__t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cu"))
        # vocab-sized; read by the totals agg AND the two c1/c2 joins
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tot_t = uni.agg(F.sum("cu").cast("double").alias("__tot_t"))
    if broadcast_vocab_below is not None:
        # bounded: one scalar over the persisted vocab frame (which the
        # joins below materialize anyway)
        vocab_small = uni.count() <= broadcast_vocab_below
    else:
        vocab_small = False
    _b = F.broadcast if vocab_small else (lambda d: d)
    bigc = (
        toks.select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("__t"), 1, F.greatest(F.size("__t") - 1, F.lit(0))),
                    F.slice(F.col("__t"), 2, F.greatest(F.size("__t") - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tot_n = bigc.agg(F.sum("pair_count").cast("double").alias("__tot_n"))
    big = bigc.filter(F.col("pair_count") >= min_count)
    pmi = F.round(
        F.log(
            (F.col("pair_count") / F.col("__tot_n"))
            / ((F.col("c1") / F.col("__tot_t")) * (F.col("c2") / F.col("__tot_t")))
        ),
        6,
    )
    return (
        big.join(
            _b(uni.select(F.col("w").alias("w1"), F.col("cu").alias("c1"))),
            "w1",
        )
        .join(
            _b(uni.select(F.col("w").alias("w2"), F.col("cu").alias("c2"))),
            "w2",
        )
        .crossJoin(F.broadcast(tot_n))
        .crossJoin(F.broadcast(tot_t))
        .select("w1", "w2", "pair_count", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(top_n)
    )


def dsir_importance_weights(
    df: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
    smoothing: float = 1.0,
    ngram_max: int = 1,
) -> DataFrame:
    """DSIR importance weights (Data Selection via Importance Resampling,
    Xie et al. 2023 — public knowledge) over HASHED unigram features →
    (id, n_tokens, logweight): logweight(x) = Σ_f c_f(x) · λ_f with
    λ_f = ln p̂_target(f) − ln p̂_source(f), add-``smoothing`` estimates
    over ``n_buckets`` md5 hash buckets. THE pretraining-data selection
    signal: resample raw documents ∝ exp(logweight) and the selected set
    matches the TARGET distribution (Wikipedia/books/a domain slice) in
    hashed-feature space — quality filtering that aims at a
    distribution, not a threshold. ``df`` doubles as the source/raw
    distribution (the standard DSIR setup).

    Engine-portable determinism: feature bucket =
    ``conv(md5(term)[:8], 16, 10) % n_buckets`` (the sampling-hash
    convention); each bucket's λ_f is rounded 6 dp (coarse enough that a last-ulp libm
    ln disagreement cannot flip the rounding — an 8 dp λ DID flip once at
    sf0.1, r11) and the per-doc sum
    Σ c_f·λ_f accumulates in DECIMAL (exact, order-independent — the
    unigram-LM posture) before the final 6 dp round.

    Scale shape: two tokenize passes (target, source) reduce to two
    ≤``n_buckets``-row count frames — map-side combinable, bucket-bounded
    state; the λ frame (B rows) broadcasts into the per-doc scoring
    aggregate, which is one shuffle keyed by doc. Empty docs produce no
    tokens and are absent (tokenizer convention).

    ``ngram_max=2`` hashes word BIGRAMS into the same bucket space
    alongside unigrams — the paper's actual feature set (hashed n-grams,
    n ≤ 2): bigrams catch the collocational signal ("prime minister" vs
    "prime number") that bag-of-words ratios miss. Same plan; the token
    explode roughly doubles."""
    feat_arrays = [tokens(F.col(text_col))]
    for n in range(2, int(ngram_max) + 1):
        feat_arrays.append(word_ngrams(F.col(text_col), n))
    feats_arr = (
        feat_arrays[0]
        if len(feat_arrays) == 1
        else F.concat(*feat_arrays)
    )
    tok = F.explode(feats_arr).alias("term")
    bucket = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10)
        .cast("long")
        % n_buckets
    ).alias("f")

    def feats(frame: DataFrame, with_id: bool) -> DataFrame:
        cols = [F.col(id_col)] if with_id else []
        t = frame.select(*cols, tok).filter(F.length(F.col("term")) > 0)
        return t.select(*cols, bucket)

    from bullet_spark_spark.operators._cache import persist_generation

    tgt = feats(target, False).groupBy("f").agg(F.count(F.lit(1)).alias("ct"))
    # per-doc feature counts computed ONCE: both the source bucket totals
    # and the final scoring aggregate read this frame — unpersisted, each
    # would re-tokenize the corpus (audit_scans: 3 base scans). Size is
    # distinct (doc, bucket) pairs — bounded by docs × n_buckets, the
    # same class the scoring shuffle moves anyway.
    doc_feats = feats(df, True).groupBy(id_col, "f").agg(
        F.count(F.lit(1)).alias("c")
    )
    from pyspark import StorageLevel

    (doc_feats,) = persist_generation(
        "text.dsir.doc_feats",
        doc_feats,
        storage_level=StorageLevel.MEMORY_AND_DISK,
    )
    src = doc_feats.groupBy("f").agg(F.sum("c").alias("cs"))
    # λ frame: every OBSERVED bucket (full outer, absent side counts 0);
    # a bucket absent from BOTH sides can't appear in any document, so
    # the dense B-row frame is unnecessary
    s = float(smoothing)
    b = float(n_buckets)
    from bullet_spark_spark.operators._cache import persist_generation

    joined = tgt.join(src, "f", "full_outer").select(
        "f",
        F.coalesce(F.col("ct"), F.lit(0)).alias("ct"),
        F.coalesce(F.col("cs"), F.lit(0)).alias("cs"),
    )
    # bucket-bounded (≤ B rows), read by totals AND λ — one live
    # generation per call site (the persist registry discipline)
    (joined,) = persist_generation("text.dsir.bucket_counts", joined)
    totals = joined.agg(
        F.sum("ct").cast("double").alias("nt"),
        F.sum("cs").cast("double").alias("ns"),
    )
    lam = (
        joined.crossJoin(F.broadcast(totals))
        .select(
            "f",
            F.round(
                F.log((F.col("ct") + F.lit(s)) / (F.col("nt") + F.lit(s * b)))
                - F.log((F.col("cs") + F.lit(s)) / (F.col("ns") + F.lit(s * b))),
                6,
            )
            .cast("decimal(18,6)")
            .alias("lam"),
        )
    )
    return (
        doc_feats.join(F.broadcast(lam), "f")
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.col("c").cast("decimal(10,0)") * F.col("lam")).cast(
                    "double"
                ),
                6,
            ).alias("logweight"),
        )
    )


def char_entropy(text: Column) -> Column:
    """Shannon entropy (nats) of a document's character distribution —
    the gibberish/boilerplate detector: natural text sits in a band,
    repeated-char spam scores near 0, uniform random bytes score high.
    Pure array expressions (split → distinct → per-char counts →
    aggregate), zero shuffle, whole-stage codegen. Each term is rounded
    to 9 dp and summed as DECIMAL(28,9) so the result is engine-exact
    despite ln's last-ulp libm differences (the repo-wide convention);
    final value rounded to 6 dp. Empty/NULL text scores 0."""
    # sort once + ONE linear run-length fold. The count-each-distinct form
    # (filter(chars, x == c) per distinct char, inside an interpreted HOF
    # lambda) rescanned — and re-split — the document once per distinct
    # character: O(distinct × len) at ~80 distinct chars × 20k-char docs
    # was this operator's entire cost. Per-run terms are identical counts,
    # and the DECIMAL term sum is order-independent, so the value is
    # bit-identical to the old form (and to the oracle).
    srt = F.array_sort(F.split(text, ""))

    def term(run, n):
        return F.round(-(run / n) * F.log(run / n), 9).cast("decimal(28,9)")

    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0.0).alias("run"),
        F.lit(0).cast("decimal(28,9)").alias("h"),
        F.size(srt).cast("double").alias("n"),
    )

    def step(acc, g):
        is_new = acc.getField("prev").isNull() | (g != acc.getField("prev"))
        # decimal + widens to (29,9); cast back so the accumulator type is
        # stable (entropy <= ln(n_chars) — nowhere near 28 digits)
        flushed = F.when(
            is_new & (acc.getField("run") > 0),
            (acc.getField("h") + term(acc.getField("run"), acc.getField("n"))).cast(
                "decimal(28,9)"
            ),
        ).otherwise(acc.getField("h"))
        run = F.when(is_new, F.lit(1.0)).otherwise(acc.getField("run") + 1)
        return F.struct(
            g.alias("prev"), run.alias("run"), flushed.alias("h"),
            acc.getField("n").alias("n"),
        )

    def finish(acc):
        return F.when(
            acc.getField("run") > 0,
            (acc.getField("h") + term(acc.getField("run"), acc.getField("n"))).cast(
                "decimal(28,9)"
            ),
        ).otherwise(acc.getField("h"))

    h = F.aggregate(srt, init, step, finish)
    return F.when(
        text.isNull() | (F.length(text) == 0), F.lit(0.0)
    ).otherwise(F.round(h.cast("double"), 6))


def tfidf_keywords(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document top-k keywords by TF-IDF → (id, term, tfidf) — the
    classic corpus-summarization signal (what is this document ABOUT),
    complementing bm25_scores' query-directed ranking.

    tfidf(d,t) = round((tf/dl) · ln(N/df), 8): relative term frequency
    times inverse document frequency; ties broken by term ASC → a total
    order, so top-k is deterministic and cross-engine identical (ln's
    last-ulp libm variance is 8 orders below the rounding, the bm25
    posture).

    Shape at 100 TB: ONE tokenize scan → (doc, term) count aggregate; both
    corpus statistics ride WINDOWS over that pair frame (dl partitioned by
    doc, df partitioned by term — no separate vocabulary table to join);
    N is the single driver scalar. The final per-doc top-k is a window
    partitioned by doc — never a global sort."""
    from pyspark.sql.window import Window as W

    pairs = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = float(
        pairs.select(id_col).distinct().count()
    )  # bounded: one scalar
    # term window FIRST, doc window second: the final rank window is also
    # doc-partitioned, so it reuses the dl exchange (Sort only, no extra
    # Exchange) — 2 window shuffles of the pair frame, not 3
    scored = (
        pairs.withColumn("dfq", F.count(F.lit(1)).over(W.partitionBy("term")))
        .withColumn("dl", F.sum("tf").over(W.partitionBy(id_col)))
        .select(
            F.col(id_col),
            "term",
            F.round(
                (F.col("tf").cast("double") / F.col("dl"))
                * F.log(F.lit(n_docs) / F.col("dfq")),
                8,
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )


_SENTENCE_RE = r"([^.!?]+[.!?]+|[^.!?]+$)"


def split_sentences(text: Column) -> Column:
    """Array of sentences: maximal runs ending in ./!/? (or the trailing
    fragment), trimmed, empties dropped. RE2-safe pattern (no lookbehind)
    so Spark's Java regex and DuckDB's RE2 produce identical arrays —
    the splitter is oracle-exact. A heuristic splitter by design:
    abbreviation periods ("Dr.") split — the price of engine-portable
    regex; a model-based splitter belongs in a mapInPandas stage.
    Punctuation-only text ("...") has no sentence content and yields
    an empty array (every run needs >= 1 non-terminator char)."""
    parts = F.regexp_extract_all(text, F.lit(_SENTENCE_RE), 1)
    return F.filter(
        F.transform(parts, lambda s: F.trim(s)), lambda s: F.length(s) > 0
    )


def chunk_by_sentences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget_tokens: int = 40,
) -> DataFrame:
    """Sentence-aware document chunking → (id, chunk, text, n_tokens):
    sentences are packed left-to-right into chunks of ~``budget_tokens``
    whitespace tokens WITHOUT splitting any sentence — the
    RAG/embedding-index chunker that respects meaning boundaries, vs
    chunk_documents' fixed token windows that cut mid-sentence.

    Soft-budget semantics (deterministic and SQL-expressible): sentence
    j goes to chunk floor(tokens_before_j / budget) — a chunk may
    overflow by its last sentence (never undershoots; a sentence longer
    than the budget gets its own chunk). True greedy reset-packing is
    sequential; this cumulative formulation gives the same boundaries
    whenever sentences are shorter than the budget, and it runs as one
    window, not a loop.

    Shape at 100 TB: sentence explode (rows ∝ sentences) → ONE window
    partitioned by doc (cumulative token count) → one groupBy (doc,
    chunk) whose order-sensitive reassembly is an array_sort over
    collected (idx, sentence) structs — deterministic under any
    partitioning, no driver involvement."""
    from pyspark.sql.window import Window as W

    sents = df.select(
        F.col(id_col),
        F.posexplode(split_sentences(F.col(text_col))).alias("__i", "__s"),
    ).withColumn("__nt", F.size(tokens(F.col("__s"))))
    w = (
        W.partitionBy(id_col)
        .orderBy("__i")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    chunked = sents.withColumn(
        "chunk",
        F.floor(
            F.coalesce(F.sum("__nt").over(w), F.lit(0)) / F.lit(budget_tokens)
        ).cast("long"),
    )
    return (
        chunked.groupBy(id_col, "chunk")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("__i"), F.col("__s")))
                    ),
                    lambda x: x["__s"],
                ),
            ).alias("text"),
            F.sum("__nt").alias("n_tokens"),
        )
    )


def normalize_url(url: Column) -> Column:
    """Canonical URL for crawl-level dedup keys — the normalization every
    web-corpus pipeline applies before URL-exact dedup (the cheapest dedup
    signal: ~30-40% of a recrawl is URL-identical). Steps, all chained
    regexp_replace (codegen, engine-portable — simple patterns shared by
    Java regex and RE2):

    1. strip the fragment (``#...`` never reaches the server);
    2. lowercase scheme + host (path/query stay case-sensitive);
    3. drop default ports (``:80`` on http, ``:443`` on https);
    4. drop tracking params (utm_*, fbclid, gclid, ref) wherever they sit
       in the query, then tidy dangling ``?``/``&`` separators;
    5. strip ``www.``;
    6. strip one trailing slash on a bare path.
    """
    u = F.trim(url)
    # 1. fragment
    u = F.regexp_replace(u, r"#.*$", "")
    # 2. lowercase scheme://host (group-referencing lower() isn't portable,
    #    so lowercase the prefix segment via a split: scheme+host end at the
    #    first '/' after '//' (or end of string))
    prefix = F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)", 1)
    rest = F.substring(u, F.length(prefix) + 1, F.lit(2147483647))
    u = F.concat(F.lower(prefix), rest)
    # 3. default ports
    u = F.regexp_replace(u, r"^(http://[^/:]+):80(/|$)", r"$1$2")
    u = F.regexp_replace(u, r"^(https://[^/:]+):443(/|$)", r"$1$2")
    # 4. tracking params (mid-query keeps the separator of the NEXT param)
    u = F.regexp_replace(u, r"([?&])(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*&", r"$1")
    u = F.regexp_replace(u, r"[?&](utm_[a-z]+|fbclid|gclid|ref)=[^&#]*$", "")
    u = F.regexp_replace(u, r"\?$", "")
    # 5. www.
    u = F.regexp_replace(u, r"^([a-z]+://)www\.", r"$1")
    # 6. trailing slash on a bare path (not before a query)
    u = F.regexp_replace(u, r"^([a-z]+://[^?]*[^/?])/$", r"$1")
    return u


def oracle_normalize_url_sql(col_sql: str) -> str:
    """The identical normalization as DuckDB SQL (RE2 'g' flags; same
    patterns, same order) for oracle checks."""
    u = f"trim({col_sql})"
    u = f"regexp_replace({u}, '#.*$', '')"
    prefix = f"regexp_extract({u}, '^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)', 1)"
    u = f"(lower({prefix}) || {u}[length({prefix}) + 1:])"
    u = f"regexp_replace({u}, '^(http://[^/:]+):80(/|$)', '\\1\\2')"
    u = f"regexp_replace({u}, '^(https://[^/:]+):443(/|$)', '\\1\\2')"
    u = f"regexp_replace({u}, '([?&])(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*&', '\\1', 'g')"
    u = f"regexp_replace({u}, '[?&](utm_[a-z]+|fbclid|gclid|ref)=[^&#]*$', '')"
    u = f"regexp_replace({u}, '\\?$', '')"
    u = f"regexp_replace({u}, '^([a-z]+://)www\\.', '\\1')"
    u = f"regexp_replace({u}, '^([a-z]+://[^?]*[^/?])/$', '\\1')"
    return u


_TWO_LEVEL_TLD_SECONDS = "co|com|net|org|gov|ac|edu"


def url_registrable_domain(url: Column) -> Column:
    """Registrable domain of a URL (public-suffix approximation): the last
    two host labels, or three when the penultimate label is a common
    second-level registry (co.uk, com.au, ...) under a 2-letter ccTLD —
    the blocking/grouping key for per-site aggregation (crawl politeness,
    per-domain quality stats, domain-authority joins)."""
    host = F.lower(F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)", 1))
    three = F.regexp_extract(
        host, rf"([^.]+\.(?:{_TWO_LEVEL_TLD_SECONDS})\.[a-z][a-z])$", 1
    )
    two = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    return F.when(three != "", three).otherwise(two)


def oracle_url_registrable_domain_sql(col_sql: str) -> str:
    host = f"lower(regexp_extract({col_sql}, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1))"
    three = (
        f"regexp_extract({host}, '([^.]+\\.(?:{_TWO_LEVEL_TLD_SECONDS})\\.[a-z][a-z])$', 1)"
    )
    two = f"regexp_extract({host}, '([^.]+\\.[^.]+)$', 1)"
    return f"(CASE WHEN {three} <> '' THEN {three} ELSE {two} END)"


def syllable_estimate(word: Column) -> Column:
    """Heuristic syllable count: contiguous vowel groups, minus silent
    trailing 'e' (unless the word ends 'le'), floor 1 — the standard
    dictionary-free estimator readability formulas use. Pure regexp
    (codegen), identical in Java regex and RE2."""
    w = F.lower(word)
    groups = F.size(
        F.filter(
            F.split(F.regexp_replace(w, r"[aeiouy]+", "\x01"), ""),
            lambda ch: ch == "\x01",
        )
    )
    silent_e = (
        F.when(w.rlike("[^aeiouy]e$") & ~w.rlike("le$"), F.lit(1)).otherwise(F.lit(0))
    )
    return F.greatest(groups - silent_e, F.lit(1))


def flesch_reading_ease(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Flesch Reading Ease per document → (id, n_sentences, n_words,
    n_syllables, flesch) — the classic readability gate (206.835 −
    1.015·words/sentence − 84.6·syllables/word): curation pipelines drop
    or downweight unreadable (too-dense or degenerate) documents, and the
    score stratifies corpora by audience level.

    Sentences = segments split on [.!?]+ with non-space content; words =
    whitespace tokens; syllables = per-word vowel-group heuristic summed
    via an aggregate over the token array — ALL codegen expressions in
    one narrow projection, no shuffle, no UDF. Degenerate documents
    (no sentence/word) yield NULL flesch rather than ±inf."""
    toks = tokens(F.col(text_col))
    n_words = F.size(toks)
    n_sent = F.size(
        F.filter(
            F.split(F.col(text_col), r"[.!?]+"),
            lambda s: F.length(F.trim(s)) > 0,
        )
    )
    n_syll = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + syllable_estimate(t)
    )
    flesch = F.when(
        (n_sent > 0) & (n_words > 0),
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (n_words.cast("double") / n_sent.cast("double"))
            - F.lit(84.6) * (n_syll.cast("double") / n_words.cast("double")),
            6,
        ),
    )
    return df.select(
        F.col(id_col),
        n_sent.cast("int").alias("n_sentences"),
        n_words.cast("int").alias("n_words"),
        n_syll.cast("int").alias("n_syllables"),
        flesch.alias("flesch"),
    )


def compression_ratio(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", level: int = 6
) -> DataFrame:
    """Per-document zlib compression ratio → (id, n_bytes, n_compressed,
    compression_ratio) — the cheap, language-agnostic degeneracy signal
    production filters pair with the Gopher heuristics: highly
    compressible text (ratio ≪ typical prose's ~0.3-0.5) is repetitive
    boilerplate/template spam, incompressible text (ratio → 1) is
    encrypted/binary/random junk; both get dropped or downweighted.

    Runs as an Arrow-batched ``mapInPandas`` stage (zlib is per-row
    imperative work with no Catalyst form — the sanctioned Python path);
    zlib output is deterministic for a fixed level, so results are
    reproducible run-to-run, though not SQL-oracle-expressible
    (rows-only in the driver contract, asserted in tests instead)."""
    import pandas as pd
    import zlib

    out_schema = (
        f"{id_col} {df.schema[id_col].dataType.simpleString()}, "
        "n_bytes int, n_compressed int, compression_ratio double"
    )

    def run(batches):
        for pdf in batches:
            ids, nb, nc, rat = [], [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                raw = (t or "").encode("utf-8")
                comp = zlib.compress(raw, level)
                ids.append(i)
                nb.append(len(raw))
                nc.append(len(comp))
                rat.append(round(len(comp) / max(len(raw), 1), 6))
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_bytes": nb,
                    "n_compressed": nc,
                    "compression_ratio": rat,
                }
            )

    return df.select(id_col, text_col).mapInPandas(run, out_schema)


def top_vocab(df: DataFrame, text_col: str = "text", n: int = 1000) -> DataFrame:
    """The corpus's top-``n`` token VOCABULARY by frequency → (token, cnt,
    rank): the frozen word list a tokenizer-coverage audit measures
    against. Deterministic: rank ties break by token ASC, so any engine
    derives the identical list. One explode + one count-by-token
    aggregate (map-side combinable) + a TakeOrderedAndProject — the
    vocab build never sorts the full token space."""
    toks = df.select(F.explode(tokens(F.col(text_col))).alias("token")).where(
        F.length("token") > 0
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = counts.orderBy(F.desc("cnt"), "token").limit(n)
    # unpartitioned by design: `ranked` is limit(n) — n rows, bounded
    return ranked.select(
        "token",
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), "token"))
        .cast("long")
        .alias("rank"),
    )


def vocab_coverage(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Out-of-vocabulary audit per group → (group, n_tokens, n_oov,
    oov_rate, n_oov_types): how much of each source's token mass falls
    outside a frozen vocabulary — the coverage check run before pinning
    a tokenizer/vocab for training (a source with high OOV under the
    frozen vocab is under-served: its text fragments into rare pieces).

    Scale shape: explode to token rows, LEFT join against the vocab on
    the token string — the vocab is top-N-sized, so Spark broadcasts it
    at any corpus size (no hint needed; it is provably bounded by the
    caller's n) — then ONE aggregate per group. n_oov_types counts
    distinct missing tokens per group (the retraining shortlist size).
    All counts exact; oov_rate rounds 6 dp for the oracle surface."""
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    ).where(F.length("token") > 0)
    marked = toks.join(
        vocab.select("token", F.lit(True).alias("__in_vocab")), "token", "left"
    )
    return (
        marked.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)).alias(
                "n_oov"
            ),
            F.count_distinct(
                F.when(F.col("__in_vocab").isNull(), F.col("token"))
            ).alias("n_oov_types"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
            "n_oov_types",
        )
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_verdict(
    text: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stopwords: int = 2,
) -> Column:
    """The Gopher quality-filter rule set (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", App. A1.1 — public knowledge) as ONE
    ordered CASE expression, first failing rule wins: word count bounds →
    mean word length bounds → symbol-to-word ratio (# and ... marks) →
    alphabetic-word fraction → stop-word presence → keep. The
    de-facto-standard heuristic prefilter most LLM curation stacks run
    before model-based scoring (same composition posture as
    :func:`curation_verdict`, different published rule set).

    Everything is built from the shared whitespace tokens() — a single
    projected expression, whole-stage codegen over the scan, no shuffle,
    no Python; the verdict histogram (groupBy verdict) is the funnel
    report. All arithmetic is count ratios: engine-portable, so the
    panel is oracle-checkable value-for-value."""
    toks = tokens(text)
    n_words = F.size(toks)
    # sum of token lengths via a running aggregate (interpreted-HOF-safe:
    # one pass, no re-tokenization)
    len_sum = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    mean_len = len_sum.cast("double") / n_words
    hash_cnt = (
        F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    )
    ell_cnt = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbol_ratio = (hash_cnt + ell_cnt).cast("double") / n_words
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    alpha_frac = alpha_words.cast("double") / n_words
    stop_hits = sum(
        F.when(F.array_contains(toks, w), 1).otherwise(0)
        for w in GOPHER_STOPWORDS
    )
    return (
        # NULL guard FIRST: every comparison below is NULL (never true)
        # for a missing text, so without it the otherwise('keep') branch
        # would pass missing documents through a quality PREfilter
        F.when(text.isNull(), F.lit("too_few_words"))
        .when(n_words < min_words, F.lit("too_few_words"))
        .when(n_words > max_words, F.lit("too_many_words"))
        .when(mean_len < min_mean_word_len, F.lit("short_words"))
        .when(mean_len > max_mean_word_len, F.lit("long_words"))
        .when(symbol_ratio > max_symbol_ratio, F.lit("symbol_heavy"))
        .when(alpha_frac < min_alpha_word_frac, F.lit("low_alpha_words"))
        .when(stop_hits < min_stopwords, F.lit("few_stopwords"))
        .otherwise(F.lit("keep"))
    )


def zipf_fit(
    df: DataFrame, text_col: str = "text", top_n: int = 1000
) -> DataFrame:
    """Zipf's-law fit over the corpus's rank-frequency curve → ONE row
    (n_terms, slope, intercept, r2): ordinary least squares of
    ln(frequency) on ln(rank) over the top-``top_n`` terms. A healthy
    natural-language corpus sits near slope ≈ −1 with r² close to 1;
    template spam flattens the head (|slope| shrinks), boilerplate
    repetition steepens it, and a low r² flags a mixture of regimes —
    the one-number lexical-health probe a corpus snapshot diff watches
    alongside entropy and repetition.

    Scale shape: one token explode + count-by-term aggregate (map-side
    combinable) + a TakeOrderedAndProject for the top-n — the full term
    space is never sorted (:func:`top_vocab`). The OLS then runs over
    the n-row ranked frame: ln(rank)/ln(cnt) round 8 dp, their products
    round 8 dp and sum as exact decimals (order-independent), the
    closed-form slope/intercept/r² round 6 dp — engine-portable,
    oracle-checkable value-for-value."""
    ranked = top_vocab(df, text_col, top_n)
    xy = ranked.select(
        F.round(F.log(F.col("rank").cast("double")), 8).alias("x"),
        F.round(F.log(F.col("cnt").cast("double")), 8).alias("y"),
    ).select(
        "x",
        "y",
        F.round(F.col("x") * F.col("y"), 8).alias("xy"),
        F.round(F.col("x") * F.col("x"), 8).alias("xx"),
        F.round(F.col("y") * F.col("y"), 8).alias("yy"),
    )
    d = lambda c: F.sum(F.col(c).cast("decimal(28,8)")).cast("double")
    s = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        d("x").alias("sx"),
        d("y").alias("sy"),
        d("xy").alias("sxy"),
        d("xx").alias("sxx"),
        d("yy").alias("syy"),
    )
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(cov / varx, 6).alias("slope"),
        F.round((F.col("sy") - (cov / varx) * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
        F.round((cov * cov) / (varx * vary), 6).alias("r2"),
    )


def unigram_kl(
    df_p: DataFrame,
    df_q: DataFrame,
    text_col: str = "text",
    k_smooth: float = 0.5,
) -> DataFrame:
    """KL divergence between two corpora's unigram distributions → ONE
    row (n_terms, n_tokens_p, n_tokens_q, kl_bits): D(P‖Q) with add-k
    smoothing over the UNION vocabulary (so q(t)=0 never divides), in
    bits. The lexical drift monitor beside the embedding-space PSI
    (quality_embedding_drift): a new-crawl snapshot whose unigram KL
    against the accepted corpus jumps is importing different language —
    template change, spam influx, or a domain shift worth a look before
    it trains.

    Scale shape: one count-by-term aggregate per side (map-side
    combinable), one FULL OUTER join on term (union-vocab-keyed shuffle),
    one final 1-row aggregate. Per-term contributions
    p·log2(p/q) round 8 dp and sum as exact decimals; output rounds
    6 dp — engine-portable, oracle-checkable."""

    def counts(df, name):
        return (
            df.select(F.explode(tokens(F.col(text_col))).alias("term"))
            .where(F.length("term") > 0)
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias(name))
        )

    cp, cq = counts(df_p, "cp"), counts(df_q, "cq")
    from pyspark import StorageLevel

    # persisted: BOTH the totals aggregate and the contribution pass
    # consume this frame — unpersisted, each consumer re-runs both token
    # aggregates (4 corpus scans instead of 2, audit_scans-caught). The
    # frame is UNION-VOCAB-sized (words, not corpus rows) — cacheable at
    # any realistic scale, spills if not.
    joined = cp.join(cq, "term", "full_outer").select(
        "term",
        F.coalesce(F.col("cp"), F.lit(0)).alias("cp"),
        F.coalesce(F.col("cq"), F.lit(0)).alias("cq"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    totals = joined.agg(
        F.count(F.lit(1)).alias("__v"),
        F.sum("cp").alias("__np"),
        F.sum("cq").alias("__nq"),
    )
    k = F.lit(float(k_smooth))
    with_t = joined.crossJoin(F.broadcast(totals))
    p = (F.col("cp") + k) / (F.col("__np") + k * F.col("__v"))
    q = (F.col("cq") + k) / (F.col("__nq") + k * F.col("__v"))
    terms = with_t.select(
        "__v",
        "__np",
        "__nq",
        F.round(p * F.log2(p / q), 8).cast("decimal(28,8)").alias("__t"),
    )
    return terms.groupBy("__v", "__np", "__nq").agg(
        F.round(F.sum("__t").cast("double"), 6).alias("kl_bits")
    ).select(
        F.col("__v").cast("long").alias("n_terms"),
        F.col("__np").cast("long").alias("n_tokens_p"),
        F.col("__nq").cast("long").alias("n_tokens_q"),
        "kl_bits",
    )


def unigram_js(
    df_p: DataFrame,
    df_q: DataFrame,
    text_col: str = "text",
    k_smooth: float = 0.5,
) -> DataFrame:
    """Jensen–Shannon divergence between two corpora's unigram
    distributions → ONE row (n_terms, n_tokens_p, n_tokens_q, js_bits):
    JS(P,Q) = ½·D(P‖M) + ½·D(Q‖M) with M = (P+Q)/2, in bits — the
    SYMMETRIC, [0,1]-bounded companion of :func:`unigram_kl` (KL is
    unbounded and direction-dependent; JS is the number a dashboard
    thresholds: 0 = same language, 1 = disjoint vocabularies). Same
    add-k smoothing over the union vocabulary and the same scale shape:
    one count-by-term aggregate per side, one full-outer term join
    (persisted — two consumers), decimal-exact contribution sums,
    output rounded 6 dp."""

    def counts(df, name):
        return (
            df.select(F.explode(tokens(F.col(text_col))).alias("term"))
            .where(F.length("term") > 0)
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias(name))
        )

    from pyspark import StorageLevel

    joined = (
        counts(df_p, "cp")
        .join(counts(df_q, "cq"), "term", "full_outer")
        .select(
            "term",
            F.coalesce(F.col("cp"), F.lit(0)).alias("cp"),
            F.coalesce(F.col("cq"), F.lit(0)).alias("cq"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    totals = joined.agg(
        F.count(F.lit(1)).alias("__v"),
        F.sum("cp").alias("__np"),
        F.sum("cq").alias("__nq"),
    )
    k = F.lit(float(k_smooth))
    with_t = joined.crossJoin(F.broadcast(totals))
    p = (F.col("cp") + k) / (F.col("__np") + k * F.col("__v"))
    q = (F.col("cq") + k) / (F.col("__nq") + k * F.col("__v"))
    m = (p + q) / 2
    terms = with_t.select(
        "__v",
        "__np",
        "__nq",
        F.round(
            p * F.log2(p / m) / 2 + q * F.log2(q / m) / 2, 8
        ).cast("decimal(28,8)").alias("__t"),
    )
    return terms.groupBy("__v", "__np", "__nq").agg(
        F.round(F.sum("__t").cast("double"), 6).alias("js_bits")
    ).select(
        F.col("__v").cast("long").alias("n_terms"),
        F.col("__np").cast("long").alias("n_tokens_p"),
        F.col("__nq").cast("long").alias("n_tokens_q"),
        "js_bits",
    )
