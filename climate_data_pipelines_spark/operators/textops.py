"""Text analysis operators (SURVEY.md §2.11): language-ID, quality
scoring, token counting, document fingerprinting.

All pure Column expressions over the `documents` table — tokenize
once, derive everything from the token array. No Python in the plan.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from climate_data_pipelines_spark.functions.scalar import oracle_round
from climate_data_pipelines_spark.functions.text import (
    WORD_RE,
    normalize_text,
    regex_tokens,
    shingles,
    tokens,
)
from climate_data_pipelines_spark.operators.scale import (
    CPU_CHUNK_BYTES,
    fetch_at_most,
    local_df,
    spread_for_cpu,
    unpersist_checkpoint,
)

# Function-word profiles for the n-gram/keyword language heuristic.
# Deterministic and intentionally tiny: real corpora would use
# character n-gram profiles; the fixture's text is synthetic word soup
# (FIXTURES.md) so the heuristic demonstrates the plan shape, and the
# DuckDB oracle reproduces the exact same rule.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "value", "fast"),
    "de": ("der", "die", "das", "und"),
    "es": ("el", "la", "los", "que"),
    "fr": ("le", "la", "les", "et"),
    "zh": ("zh", "ni", "hao", "ma"),
}

STOPWORDS = ("the", "a", "an", "of", "to", "and")


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token counting: whitespace tokens + regex word tokens + chars
    (SURVEY.md §2.11 'token counting'). All O(len) expressions."""
    toks = tokens(text_col)
    return df.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars"),
        F.size(toks).alias("n_tokens_ws"),
        F.size(regex_tokens(text_col, WORD_RE)).alias("n_tokens_re"),
        F.size(F.array_distinct(toks)).alias("n_tokens_distinct"),
    )


def quality_predicate(text_col: str = "text") -> Column:
    """The boolean quality gate as a standalone Column expression so
    batch (``quality_score``/``training.curate``) and streaming
    (``streaming.jobs.curate_documents_stream``) share ONE
    definition: length >= 10 tokens, mean word length in [2, 12],
    distinct-token ratio >= 0.1. Stateless narrow map."""
    toks = tokens(text_col)
    n = F.size(toks)
    mean_wl = F.aggregate(
        toks, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
    ) / n.cast("double")
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n.cast("double")
    return (n >= 10) & (mean_wl >= 2.0) & (mean_wl <= 12.0) & (distinct_ratio >= 0.1)


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Quality scoring: length / mean word length / stopword ratio /
    distinct-token ratio (SURVEY.md §2.11 'quality scoring').

    The composite is a monotone combination of the classic Gopher-ish
    filters; thresholds are illustrative. Rounded for oracle parity.
    """
    toks = tokens(text_col)
    n = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    mean_wl = F.aggregate(
        toks, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
    ) / n.cast("double")
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n.cast("double")
    stop_ratio = n_stop.cast("double") / n.cast("double")
    p = F.lit(1e6)
    return df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        (F.round(mean_wl * p, 0) / p).alias("mean_word_len"),
        (F.round(stop_ratio * p, 0) / p).alias("stopword_ratio"),
        (F.round(distinct_ratio * p, 0) / p).alias("distinct_ratio"),
        quality_predicate(text_col).alias("passes_quality"),
    )


def quality_percentile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    by: str = "lang",
) -> DataFrame:
    """Per-group quality-score CALIBRATION: percent_rank of the
    distinct-token ratio within each ``by`` group (language, source).

    One absolute threshold penalizes whole slices of a corpus — a
    morphologically rich language scores systematically different
    distinct-token ratios than an analytic one — so curation pipelines
    threshold on the within-group percentile instead of the raw score.
    percent_rank (= (rank-1)/(n-1)) is tie-stable: equal scores get
    equal percentiles regardless of shuffle order, so the output is
    engine-reproducible with no tiebreak column. Ranking runs on the
    ROUNDED score (quality_score's oracle-parity rounding), which also
    pins tie groups across engines.

    One shuffle (the ``by`` key) + per-group sort over (score) pairs —
    the window ranks only id/score columns, never document bodies.
    """
    qs = quality_score(df, text_col, id_col).select(id_col, "distinct_ratio")
    joined = df.select(F.col(id_col), F.col(by)).join(qs, id_col)
    w = Window.partitionBy(by).orderBy("distinct_ratio")
    return joined.withColumn("quality_pctile", F.percent_rank().over(w))


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Language-ID heuristic: marker-word hit counts per language,
    argmax with deterministic tie-break on language code
    (SURVEY.md §2.11 'language-ID (n-gram heuristic)').

    Plan: one tokenize, one score expression per language, greatest()
    + chained when() — no explode, no shuffle at all (narrow map).
    """
    toks = tokens(text_col)
    scores = {
        lang: F.size(F.filter(toks, lambda t: t.isin(*markers)))
        for lang, markers in sorted(LANG_MARKERS.items())
    }
    best = F.greatest(*scores.values())
    pred = F.lit(None).cast("string")
    # first lang (alphabetical) achieving the max wins — deterministic
    for lang in sorted(scores, reverse=True):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    out = df.select(
        F.col(id_col),
        *[scores[lang].alias(f"score_{lang}") for lang in sorted(scores)],
        pred.alias("pred_lang"),
    )
    return out


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprinting: md5 of the normalized text plus a
    coarse 8-hex-prefix shard key (SURVEY.md §2.11 'document
    fingerprinting (rolling hash)'). The shard key is what a 100 TB
    dedup partitions on."""
    fp = F.md5(normalize_text(F.col(text_col)))
    return df.select(
        F.col(id_col),
        fp.alias("fingerprint"),
        F.substring(fp, 1, 8).alias("shard_key"),
    )


def word_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus word count: explode tokens → groupBy word (SURVEY.md Q39).
    Map-side partial aggregation keeps the shuffle at vocab size."""
    return (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


# PII-ish patterns a training-data scrub pass redacts. Deliberately
# simple (the point is the distributed scrub plan, not regex
# perfection); production swaps in a vetted pattern set.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"


def redact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """PII/URL scrub (training-data hygiene pass): regexp-replace
    emails and URLs with typed placeholder tokens, plus match counts
    so downstream filters can drop documents that were mostly
    boilerplate. Narrow map — no shuffle, scales linearly.
    """
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
        ).alias("redacted"),
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(URL_RE), F.lit(0))).alias("n_urls"),
    )


def repetition_ratio(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 2
) -> DataFrame:
    """Repetition ratio (Gopher-style quality signal): fraction of the
    document's k-gram occurrences taken by its single most frequent
    k-gram. Boilerplate and templated spam score high; natural prose
    scores low.

    Pure per-row expression, LINEAR in document length: sort the
    k-gram array once (equal grams become adjacent), then a single
    aggregate() pass tracks the longest run of equal neighbors — the
    max gram frequency. O(n log n) per row, no explode, no shuffle.

    The earlier form — ``transform(array_distinct(grams), g ->
    size(filter(grams, x == g)))`` — was O(distinct·n) per row AND
    Catalyst's projection collapse re-inlined the shingle
    subexpression per lambda element (the same trap fixed in minhash
    shingling, functions/text.py:39-51); on 100k-token documents that
    is quadratic. The run-length scan references the gram array
    exactly twice (size + sorted input) and its lambda touches only
    the accumulator and element, so nothing re-inlines.
    """
    grams = shingles(text_col, k)

    def _step(acc, x):
        run = F.when(acc["prev"] == x, acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top = F.aggregate(
        F.array_sort(grams),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        _step,
        lambda acc: acc["best"],
    )
    n = F.size(grams)
    p = F.lit(1e6)
    return df.select(
        F.col(id_col),
        n.alias("n_grams"),
        (F.round(top.cast("double") / n.cast("double") * p, 0) / p).alias(
            "max_gram_ratio"
        ),
    )


def sentence_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Sentence segmentation stats: split on terminal punctuation,
    count sentences and mean sentence length in tokens — the
    length-distribution features C4-style filters threshold on.
    Narrow map, no shuffle."""
    sents = F.filter(
        F.split(F.col(text_col), r"[.!?]+"), lambda s: F.trim(s) != ""
    )
    n_sent = F.size(sents)
    total_toks = F.aggregate(
        F.transform(sents, lambda s: F.size(tokens(F.trim(s)))),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    p = F.lit(1e6)
    return df.select(
        F.col(id_col),
        n_sent.alias("n_sentences"),
        (
            F.round(total_toks.cast("double") / n_sent.cast("double") * p, 0) / p
        ).alias("mean_sentence_tokens"),
    )


def vocab_topk(
    df: DataFrame,
    k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus vocabulary: top-k tokens by document frequency (with
    total term frequency as tiebreak context) — the tokenizer-training
    / stopword-discovery primitive.

    explode → one hash agg on token computing both frequencies
    (count distinct docs via a two-level agg, not a count-distinct
    shuffle of raw pairs), then a global top-k limit: orderBy+limit is
    a TakeOrderedAndProject — each partition keeps k rows, the driver
    merges k×partitions, no global sort materializes.
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    per_doc = tok.groupBy("token", id_col).agg(F.count("*").alias("tf"))
    freqs = per_doc.groupBy("token").agg(
        F.count("*").alias("doc_freq"), F.sum("tf").alias("term_freq")
    )
    return freqs.orderBy(
        F.desc("doc_freq"), F.desc("term_freq"), F.asc("token")
    ).limit(k)


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_tokens: int = 8,
) -> DataFrame:
    """Corpus-wide line-level dedup (the CCNet/Dolma boilerplate
    remover): segment each document into fixed-width token lines,
    drop every line whose exact text already occurred earlier in the
    corpus (first occurrence by (doc_id, line_id) is the keeper),
    reassemble the survivors in order. Documents reduced to zero
    lines drop out (pure-boilerplate filter).

    Built as posexplode → keyed aggregations, NOT as a
    transform(sequence, i -> slice(toks, ...)) expression: Catalyst's
    projection collapse re-inlines the tokenizer per lambda element
    (the minhash-shingling trap, functions/text.py:39-51), which
    would be O(n²) per document. The exploded form is linear, its
    shuffles are keyed on (doc, line) / line-text — both map-side
    combined — and the first-occurrence choice is a min-struct
    aggregate, not a window over the whole corpus.

    Returns (doc_id, n_lines_kept, text_dedup).
    """
    tok = df.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "token")
    )
    lines = (
        tok.withColumn("line_id", (F.col("pos") / line_tokens).cast("int"))
        .groupBy(id_col, "line_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token"))),
                    lambda s: s["token"],
                ),
                " ",
            ).alias("line")
        )
    )
    # The min-struct keeper rows ARE the kept rows: ``lines`` has
    # exactly one row per (doc_id, line_id), so the keeper tuple
    # (k.doc_id, k.line_id, line) is bit-identical to the row a
    # semi-join back into ``lines`` would select. Projecting keepers
    # directly removes the join AND the second computation of the
    # whole tok-explode + line-agg subtree (the two identical
    # exchanges were NOT reused at runtime — measured as twin ~9.5
    # CPU-s stages, r13 stage profile; guide §2.4 remove shuffles
    # outright).
    kept = lines.groupBy("line").agg(
        F.min(F.struct(F.col(id_col), F.col("line_id"))).alias("k")
    ).select(
        F.col(f"k.{id_col}").alias(id_col),
        F.col("k.line_id").alias("line_id"),
        F.col("line"),
    )
    return kept.groupBy(id_col).agg(
        F.count("*").alias("n_lines_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_id", "line"))),
                lambda s: s["line"],
            ),
            " ",
        ).alias("text_dedup"),
    )


def repeated_ngrams(
    df: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Repeated-n-gram coverage — the seed statistic of exact-substring
    dedup ("Deduplicating Training Data Makes Language Models Better",
    Lee et al. 2021: long spans shared verbatim across documents are
    memorization fuel): for each document, what fraction of its
    k-token shingle positions is covered by a shingle that also
    appears in >= ``min_docs`` distinct documents.

    Plan (all keyed on the 32-hex md5 of the shingle — the shuffle
    never carries the k-token gram text, only fixed-width digests,
    the same 100 TB trick as exact_dedup):
      1. posexplode shingles -> (doc, pos, gram_digest);
      2. two-level distinct-doc count per digest (groupBy (digest,
         doc) then digest — no count-distinct shuffle of raw pairs),
         filter to the repeated set — at corpus scale this set is
         MUCH smaller than the shingle universe;
      3. left-semi join positions against the repeated set (AQE
         broadcasts it when small), one per-doc count agg;
      4. left join back to per-doc totals; docs shorter than k
         contribute their single whole-text shingle.

    Returns (doc_id, n_grams, n_repeated, repeated_frac) for every
    input document. A dedup pipeline drops or trims docs with high
    ``repeated_frac``; a report sorts by it.
    """
    df = spread_for_cpu(df, chunk_bytes=CPU_CHUNK_BYTES)
    # gkey = unhex(md5): the digest is shuffle-internal (never output),
    # and the 16-byte BINARY has the identical group identity as the
    # 32-hex STRING at half the key bytes — cheaper hashing/compares in
    # the two gkey aggs and ~40% less shuffle (r13, guide §2.5 shuffle
    # fewer bytes / narrower types). ``pos`` was carried through the
    # explode but never used (both consumers only count rows) — plain
    # explode emits one row per position either way.
    g = df.select(
        F.col(id_col),
        F.explode(shingles(text_col, k)).alias("gram"),
    ).select(F.col(id_col), F.unhex(F.md5("gram")).alias("gkey"))
    repeated = (
        g.select("gkey", id_col)
        .distinct()
        .groupBy("gkey")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("gkey")
    )
    # per-doc totals are pure arithmetic (m = max(n_tokens - k + 1, 1),
    # the shingle count by construction) — no second explode, no agg
    per_doc_tot = df.select(
        F.col(id_col),
        F.greatest(F.size(tokens(text_col)) - (k - 1), F.lit(1))
        .cast("long")
        .alias("n_grams"),
    )
    per_doc_rep = (
        g.join(repeated, "gkey", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_repeated"))
    )
    return per_doc_tot.join(per_doc_rep, id_col, "left").select(
        F.col(id_col),
        F.col("n_grams"),
        F.coalesce(F.col("n_repeated"), F.lit(0)).alias("n_repeated"),
        (
            F.round(
                F.coalesce(F.col("n_repeated"), F.lit(0)).cast("double")
                / F.col("n_grams").cast("double")
                * 1e6,
                0,
            )
            / 1e6
        ).alias("repeated_frac"),
    )


def repeated_spans(
    df: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring dedup SPANS (the removal stage Lee et al. 2021's
    coverage statistic feeds): merge every position whose k-token
    shingle appears in >= ``min_docs`` distinct documents into maximal
    half-open token intervals [span_start, span_end) per document —
    the exact spans a dedup pass strips (``strip_repeated_spans``)
    instead of dropping whole documents.

    Plan: same digest-keyed repeated-set discovery as
    ``repeated_ngrams`` (the shuffle never carries gram text), then a
    per-document interval merge: sort hit positions inside each doc
    partition, break a new span where a hit starts beyond the running
    max end (two window passes), aggregate per (doc, span group). The
    windows run over HIT positions only — the merged span table is a
    small fraction of the corpus; the corpus itself is scanned once.
    End positions clamp to the doc's token count (a short doc's single
    whole-text shingle covers exactly [0, n_tokens)).
    Returns (id, span_start, span_end, span_tokens).
    """
    from pyspark.sql import Window

    df = spread_for_cpu(df, chunk_bytes=CPU_CHUNK_BYTES)
    n_toks = F.greatest(F.size(tokens(text_col)), F.lit(1))
    g = df.select(
        F.col(id_col),
        n_toks.alias("_nt"),
        F.posexplode(shingles(text_col, k)).alias("pos", "gram"),
    ).select(
        # unhex(md5): identical group identity at half the key bytes
        # (same §2.5 narrowing as repeated_ngrams, r13)
        F.col(id_col),
        F.col("_nt"),
        F.col("pos"),
        F.unhex(F.md5("gram")).alias("gkey"),
    )
    repeated = (
        g.select("gkey", id_col)
        .distinct()
        .groupBy("gkey")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("gkey")
    )
    hits = g.join(repeated, "gkey", "left_semi").select(
        F.col(id_col),
        F.col("pos").cast("long").alias("s"),
        F.least(F.col("pos") + k, F.col("_nt")).cast("long").alias("e"),
    )
    w_prev = (
        Window.partitionBy(id_col).orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col).orderBy("s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_max = F.max("e").over(w_prev)
    marked = hits.withColumn(
        "_brk",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), F.lit(1)).otherwise(
            F.lit(0)
        ),
    ).withColumn("_gid", F.sum("_brk").over(w_run))
    return (
        marked.groupBy(id_col, "_gid")
        .agg(
            F.min("s").alias("span_start"),
            F.max("e").alias("span_end"),
            (F.max("e") - F.min("s")).alias("span_tokens"),
        )
        .select(id_col, "span_start", "span_end", "span_tokens")
    )


def strip_repeated_spans(
    df: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove the merged repeated spans from each document's text —
    exact-substring dedup proper: corpus-duplicated passages vanish,
    the unique remainder survives (vs. dropping whole documents).

    One left join of the corpus against its (small) span table
    collected per doc, then a pure-expression rebuild: tokens are
    indexed with ``transform``, positions inside any span filtered out
    with a nested ``exists``, and the remainder rejoined — no UDF, no
    second shuffle of the corpus. Docs with no repeated span pass
    through verbatim. Returns the input columns + text_dedup.
    """
    spans = (
        repeated_spans(df, k, min_docs, text_col, id_col)
        .groupBy(id_col)
        .agg(
            F.collect_list(
                F.struct(F.col("span_start").alias("s"), F.col("span_end").alias("e"))
            ).alias("_spans")
        )
    )
    toks = tokens(text_col)
    indexed = F.transform(toks, lambda t, i: F.struct(t.alias("t"), i.alias("i")))
    sp = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<s:bigint,e:bigint>>"),
    )
    kept = F.filter(
        indexed,
        lambda p: ~F.exists(sp, lambda span: (p["i"] >= span["s"]) & (p["i"] < span["e"])),
    )
    cleaned = F.array_join(F.transform(kept, lambda p: p["t"]), " ")
    return df.join(spans, id_col, "left").select(
        *[F.col(c) for c in df.columns], cleaned.alias("text_dedup")
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 retrieval: top-k documents for a bag of query terms — the
    lexical-search primitive a training-data pipeline uses for
    targeted corpus probes (quality audits, contamination spot checks).

    Okapi BM25 with the standard idf = ln(1 + (N - df + 0.5)/(df + 0.5)).
    Plan shape at 100 TB:

    - ONE explode of the corpus restricted to query terms — the token
      array is ``filter``-ed to the query set BEFORE the explode, so
      only matching tokens leave the scan and the exploded stream is
      |hits|, not |tokens|;
    - corpus stats (N, avgdl) reuse the SAME scan's per-doc lengths
      (no second tokenization pass over the corpus); per-term document
      frequencies are tiny aggregates cross/broadcast-joined back;
    - final score is one hash agg on doc_id and a
      TakeOrderedAndProject top-k (per-partition k, no global sort).
    """
    terms = sorted(set(query_terms))
    lit_terms = F.array(*[F.lit(t) for t in terms])
    toks = tokens(text_col)
    base = df.select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        F.filter(toks, lambda t: F.array_contains(lit_terms, t)).alias("_hits"),
    )
    hits = base.select(id_col, "dl", F.explode("_hits").alias("term"))
    tf = hits.groupBy(id_col, "term", "dl").agg(F.count("*").alias("tf"))
    stats = base.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    dfreq = tf.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = idf * (
        F.col("tf") * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.sum(contrib).alias("bm25"))
    )
    return scored.orderBy(F.desc("bm25"), F.asc(id_col)).limit(k)


def inverted_index(
    df: DataFrame,
    min_doc_freq: int = 2,
    postings_cap: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Inverted index build: token → (document frequency, total term
    frequency, first ``postings_cap`` doc ids ascending). The search /
    span-lookup sidecar a curation pipeline materializes next to the
    corpus.

    explode(distinct per doc) → one hash agg per token. The postings
    cap is applied BEFORE the collect: a per-token ``row_number``
    (ordered by doc id) nulls out every entry past the cap, and
    ``collect_list`` skips nulls — so the aggregation buffer for a
    hot token holds at most ``postings_cap`` ids, never the full
    posting list (a stop-word in 10^8 docs would otherwise collect
    GBs into one executor's agg buffer before any slice ran). Costs
    one keyed window sort over (token, id, tf) rows; at 100 TB the
    full posting list would instead be a partitioned sink keyed by
    (token, shard).
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    per_doc = tok.groupBy("token", id_col).agg(F.count("*").alias("tf"))
    w = Window.partitionBy("token").orderBy(id_col)
    ranked = per_doc.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.groupBy("token")
        .agg(
            F.count("*").alias("doc_freq"),
            F.sum("tf").alias("term_freq"),
            F.array_sort(
                F.collect_list(
                    F.when(F.col("_rn") <= postings_cap, F.col(id_col))
                )
            ).alias("postings"),
        )
        .filter(F.col("doc_freq") >= min_doc_freq)
    )


def heavy_hitters_topk(
    df: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    sample_per_10k: int = 1000,
    candidate_factor: int = 4,
    seed: str = "hh-v1",
) -> DataFrame:
    """Frequent-items top-k via sample-then-verify — ``vocab_topk``'s
    100 TB path. A single exact groupBy over every token shuffles the
    full token stream; the two-phase shape shuffles (a) the token
    stream of a deterministic ~``sample_per_10k``/10k hash-sample of
    DOCUMENTS to nominate ``candidate_factor * k`` candidates, then
    (b) ONLY the candidate tokens (broadcast semi-join gate on the
    second scan) for exact counting. The gate hashes the DOCUMENT id,
    not the token: gating on the token string would sample vocabulary
    TYPES (deterministically erasing 90% of distinct tokens — a
    heavy hitter could never be nominated), whereas a document sample
    preserves every frequent token's expected share. Any token
    appearing in >> 10k/sample_per_10k documents is nominated with
    overwhelming probability; md5 determinism keeps the whole output
    engine-portable (DuckDB oracle bit-equal, same two phases).

    Output: (token, term_freq) — EXACT counts for the k winners,
    ordered by (term_freq desc, token). Both top-Ns are
    TakeOrderedAndProject, never a global sort.
    """
    from climate_data_pipelines_spark.operators.training import _md5_bucket

    # spread: both phases explode the token stream — CPU-bound per-row
    # work that inherits a single scan split on small parquet files
    # (the q139 lesson, SCALEPROOF.md Finding 7); no-op at production
    # split counts
    tok = spread_for_cpu(df, chunk_bytes=CPU_CHUNK_BYTES).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    )
    sampled = tok.filter(_md5_bucket(F.col(id_col), seed, 10_000) < sample_per_10k)
    candidates = (
        sampled.groupBy("token")
        .agg(F.count("*").alias("s_freq"))
        .orderBy(F.desc("s_freq"), F.asc("token"))
        .limit(candidate_factor * k)
        .select("token")
    )
    exact = (
        tok.select("token")
        .join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count("*").alias("term_freq"))
    )
    return exact.orderBy(F.desc("term_freq"), F.asc("token")).limit(k)


def _bpe_merge_fold(syms, left: str, right: str) -> Column:
    """The ONE greedy left-to-right BPE merge fold shared by training
    and encoding (divergent copies would silently break the trained-
    vocab invariant): walk the symbol array once, fusing (left, right)
    whenever the accumulator tail equals ``left`` — the fused symbol
    left+right can never re-match ``left`` (right is non-empty), so
    this reproduces classic BPE's re-scan semantics ("aaa" under
    merge (a,a) → [aa, a], not [aa, aa])."""
    merged = left + right
    return F.aggregate(
        syms,
        F.expr("CAST(array() AS ARRAY<STRING>)"),
        lambda acc, x: F.when(
            # try_element_at: NULL (not an ANSI error) on the empty
            # accumulator at the fold's first step
            (F.try_element_at(acc, F.lit(-1)) == left) & (x == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _sql_str_lit(s: str) -> str:
    """Escape an arbitrary learned symbol as a Spark SQL string
    literal (merges come from corpus text, so quotes/backslashes are
    legal symbol content)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _bpe_merge_fold_sql(inner: str, left: str, right: str) -> str:
    """``_bpe_merge_fold`` as a SQL string over an inner expression
    string — the py4j round-trip economy form for bpe_train's hot
    loop (optimization guide §4 applied to plan build: the Column
    version costs ~15 JVM calls per merge, ~0.22 s of driver wall per
    8-merge batch; one parsed string per round builds the equivalent
    tree in a single round trip). Semantics are identical to the
    Column fold: CASE's NULL condition on the empty accumulator falls
    to ELSE exactly like F.when().otherwise()."""
    lft, rgt = _sql_str_lit(left), _sql_str_lit(right)
    merged = _sql_str_lit(left + right)
    return (
        f"aggregate({inner}, CAST(array() AS ARRAY<STRING>), "
        f"(acc, x) -> CASE WHEN try_element_at(acc, -1) = {lft} "
        f"AND x = {rgt} "
        f"THEN concat(slice(acc, 1, size(acc) - 1), array({merged})) "
        f"ELSE concat(acc, array(x)) END)"
    )


_MERGE_SCHEMA = "merge_idx int, left string, right string, pair_count bigint"


def _bpe_train_local(
    words: list,
    counts: list,
    n_merges: int,
    end_marker: str,
    batch_m: int,
    candidate_factor: int,
) -> list:
    """The EXACT driver-side replay of ``bpe_train``'s merge loop over
    a collected (word, count) vocabulary — the CC-driver-local pattern
    (dedup._component_min): classic BPE is a single-machine
    algorithm over the vocabulary-sized frequency dict, so under the
    collect cap the per-round Spark jobs (4 serial driver round-trips
    at q164's 24-merge/8-batch shape) collapse into one Arrow fetch.

    Bit-identical to the distributed loop by construction, each round:
      - pair counts: every adjacent symbol position weighted by word
        count (the zip_with explode), exact integer sums;
      - candidates: top ``batch_m*candidate_factor`` by (count desc,
        left asc, right asc) — Python str comparison is code-point
        order, which equals Spark's UTF8String binary order — THEN the
        count >= 2 filter (same order as the distributed
        limit-then-filter);
      - greedy non-overlapping acceptance, same ``used`` rule;
      - fold: one left-to-right single pass per accepted merge in
        batch order — the scan form of ``_bpe_merge_fold``'s
        tail-check aggregate (their equivalence is the property the
        ranked-encode tests already pin).
    Only words that CONTAIN an accepted pair are rescanned (index
    built during counting); batch pairs are symbol-disjoint, so one
    batch merge can neither create nor destroy another's occurrences
    (the docstring's frozen-counts argument), keeping the index valid
    within the round. Parity vs the forced-distributed loop is pinned
    in tests/test_textops.py."""
    syms_list = [list(w) + [end_marker] for w in words]
    merges: list = []
    while len(merges) < n_merges:
        pair_counts: dict = {}
        occurs: dict = {}
        for j, (syms, c) in enumerate(zip(syms_list, counts)):
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                if p in pair_counts:
                    pair_counts[p] += c
                else:
                    pair_counts[p] = c
                    occurs[p] = []
                occurs[p].append(j)
        top = sorted(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[: max(1, batch_m * candidate_factor)]
        top = [(p, c) for p, c in top if c >= 2]
        if not top:
            break
        used: set = set()
        batch = []
        room = min(batch_m, n_merges - len(merges))
        for (left, right), c in top:
            if left in used or right in used or (left + right) in used:
                continue
            used.update((left, right, left + right))
            batch.append((left, right, int(c)))
            if len(batch) >= room:
                break
        for left, right, c in batch:
            merges.append((len(merges), left, right, c))
        for left, right, _ in batch:
            merged = left + right
            for j in dict.fromkeys(occurs[(left, right)]):
                syms = syms_list[j]
                out: list = []
                i = 0
                n = len(syms)
                while i < n:
                    if i < n - 1 and syms[i] == left and syms[i + 1] == right:
                        out.append(merged)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms_list[j] = out
    return merges


def bpe_train(
    df: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    end_marker: str = "</w>",
    batch_m: int = 1,
    candidate_factor: int = 4,
) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al.): learn
    ``n_merges`` byte-pair merges from the corpus — the tokenizer-
    construction step of an LLM data pipeline, run where the data is
    instead of sampling it down to one machine.

    The classic algorithm iterates over a WORD-FREQUENCY dict, and
    that is exactly what makes it distributable: one corpus pass
    builds (word, count) — vocabulary-sized, orders of magnitude
    smaller than the corpus — and every merge round then runs on that
    small table: explode adjacent symbol pairs weighted by word count
    → one map-side-combined groupBy(pair) → top-1 pair via
    TakeOrderedAndProject (count desc, pair asc tiebreak —
    deterministic) → apply the merge with a pure-expression
    left-to-right greedy fold (``F.aggregate``: append, or fuse with
    the accumulator's tail when it equals the winning pair). The word
    table is localCheckpoint-ed per round so lineage stays flat; the
    only driver traffic per round is the single winning pair.

    Words are space-tokenized and seeded as character sequences with
    ``end_marker`` appended (word-boundary-aware merges, per the
    paper). Returns the learned merge table
    (merge_idx, left, right, pair_count) in merge order.

    ``batch_m`` bounds the DRIVER ROUND-TRIPS (VERDICT r5 item 5): at
    the default 1 the train is classic Sennrich BPE — one Spark job
    per merge, bit-identical to the in-memory reference (invariant
    q162) but 32k sequential jobs for a production vocab. With
    ``batch_m > 1`` each round collects the top
    ``batch_m·candidate_factor`` pairs (a tiny driver list) and
    greedily accepts up to ``batch_m`` NON-OVERLAPPING pairs — no
    accepted pair shares a left/right/merged symbol with another — in
    (count desc, pair asc) order. Disjoint symbols make the frozen
    round-start counts exact: a merge elsewhere in a word can neither
    destroy an occurrence of a disjoint pair (neither of its tokens
    was consumed) nor create one (the new symbol is not one of its
    tokens), so the batch equals applying those merges sequentially.
    The standard scalable-BPE trade remains: classic BPE might rank a
    brand-new pair (one involving a just-merged symbol) above the
    batch's later picks, so merge SEQUENCES can diverge from m=1 —
    which is why the reference-parity invariant pins the m=1 path and
    the batched path is gated by its own equivalence property test.
    Rounds drop from n_merges to ~n_merges/batch_m
    (SCALEPROOF.json ``bpe_train_1k`` records a 1,000-merge train; its
    retired script is listed in docs/SCALEPROOF.md).

    At or under ``scale.DRIVER_LOCAL_MAX["bpe"]`` distinct words the
    merge loop runs driver-side over one Arrow fetch of the (word,
    count) table (``_bpe_train_local`` — bit-identical by
    construction, parity-tested against the forced-distributed loop)
    instead of ~n_merges/batch_m serial Spark jobs; at 100 TB the
    vocabulary exceeds the cap and the distributed loop is the path.
    """
    spark = df.sparkSession
    # ONE corpus pass builds the vocabulary-sized (word, count) table;
    # the capped fetch both materializes it and sizes it for the
    # dispatch
    pdf, wc = fetch_at_most(
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("w_count")),
        "bpe",
    )
    if pdf is not None:
        merges = _bpe_train_local(
            pdf["word"].tolist(), pdf["w_count"].tolist(),
            n_merges, end_marker, batch_m, candidate_factor,
        )
        return local_df(spark, merges, _MERGE_SCHEMA)
    # LAZY checkpoints throughout the train loop (r14, guide §2.6 "one
    # job where two ran serially"): the eager checkpoint per round was
    # a full barrier job that materialized the folded word table and
    # THEN ran the next round's pair-count job over it — two serial
    # driver round-trips per round. A lazy checkpoint materializes the
    # fold DURING the next round's pair-count job (same blocks stored,
    # same lineage truncation), halving jobs per round; the final
    # round's never-consumed fold is never executed at all. The
    # previous round's blocks are freed only AFTER the collect that
    # materialized the new table (a truncated-lineage checkpoint
    # cannot be recomputed once unpersisted).
    words = wc.select(
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit(end_marker))
        ).alias("syms"),
        "w_count",
    ).localCheckpoint(eager=False)
    merges = []
    prev_words = None
    while len(merges) < n_merges:
        top = (
            words.select(
                F.explode(
                    F.zip_with(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
                "w_count",
            )
            .groupBy("p")
            .agg(F.sum("w_count").alias("c"))
            .orderBy(F.desc("c"), F.asc("p.l"), F.asc("p.r"))
            .limit(max(1, batch_m * candidate_factor))
            .collect()
        )
        # the collect above just materialized `words`' lazy checkpoint;
        # the previous round's blocks are now safely unreferenced
        if prev_words is not None:
            unpersist_checkpoint(prev_words)
            prev_words = None
        top = [r for r in top if r["c"] >= 2]
        if not top:
            break
        # greedy non-overlapping batch in (count desc, pair asc) order;
        # the first candidate is always accepted, so progress is
        # guaranteed and batch_m=1 reproduces classic top-1 exactly
        used: set = set()
        batch = []
        room = min(batch_m, n_merges - len(merges))
        for r in top:
            left, right = r["p"]["l"], r["p"]["r"]
            if left in used or right in used or (left + right) in used:
                continue
            used.update((left, right, left + right))
            batch.append((left, right, int(r["c"])))
            if len(batch) >= room:
                break
        for left, right, c in batch:
            merges.append((len(merges), left, right, c))
        # one parsed SQL string for the whole batch's fold chain (see
        # _bpe_merge_fold_sql: ~0.22 s/round of py4j plan-build saved)
        folded_sql = "syms"
        for left, right, _ in batch:
            folded_sql = _bpe_merge_fold_sql(folded_sql, left, right)
        prev_words = words
        words = words.select(
            F.expr(folded_sql).alias("syms"), "w_count"
        ).localCheckpoint(eager=False)
    # the returned merge table is driver-built — the word checkpoints
    # are unreachable from it, so free whatever is still pinned: the
    # last-materialized table (prev_words) and, when the loop exited
    # via the no-pairs break, the current one (unpersisting a lazy,
    # never-materialized checkpoint is a no-op)
    if prev_words is not None:
        unpersist_checkpoint(prev_words)
    unpersist_checkpoint(words)
    unpersist_checkpoint(wc)  # freed last: round-0's words derived from it
    # Arrow-path creation (scale.local_df): the pickled-list path
    # re-ran 32 Python-worker tasks on EVERY action over this table
    # (~0.33 s per collect — q164 pays one per bench repeat)
    return local_df(spark, merges, _MERGE_SCHEMA)


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    end_marker: str = "</w>",
) -> DataFrame:
    """Apply a trained BPE merge list (``bpe_train`` output order) —
    the tokenize-with-trained-vocab step. Every merge becomes one
    pure-expression greedy fold over the per-word symbol array, merges
    chained IN TRAINING ORDER inside a single projection: no UDF, no
    shuffle, no per-merge job — one narrow map over the corpus.
    Returns (id, bpe_tokens, n_bpe_tokens); token count with a trained
    tokenizer is the budgeting currency of every mix/pack step
    upstream.

    Practical merge-count bound: each merge adds one nested
    transform+aggregate level to the SAME projection, so the Catalyst
    expression tree grows linearly and deeply per merge — fine for the
    tens of merges this repo trains (≤ 12), but a production 32k-merge
    vocab would blow codegen/nesting limits (and sequential ``select``
    chunks don't help — CollapseProject folds them back into one
    tree). The production path for large vocabs is a trained-vocab
    longest-match tokenizer (vocabulary broadcast, one Arrow-batched
    kernel) rather than replaying thousands of merges as expressions.
    """

    word_syms = F.transform(
        tokens(text_col),
        lambda w: F.concat(F.split(w, ""), F.array(F.lit(end_marker))),
    )
    def merge_step(l, r):
        # closure factory: a default-arg lambda would change the
        # visible arity and break transform's lambda introspection
        return lambda s: _bpe_merge_fold(s, l, r)

    encoded = word_syms
    for left, right in merges:
        encoded = F.transform(encoded, merge_step(left, right))
    flat = F.flatten(encoded)
    return df.select(
        F.col(id_col),
        flat.alias("bpe_tokens"),
        F.size(flat).alias("n_bpe_tokens"),
    )


def bpe_encode_ranked(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    end_marker: str = "</w>",
) -> DataFrame:
    """Tokenize with a trained merge list of ARBITRARY size — the
    production path for a 32k-vocab tokenizer that ``bpe_encode``'s
    expression fold cannot express (one nested Catalyst fold per merge
    caps it at tens of merges).

    The merge table becomes a broadcast pair→rank dict and ONE
    Arrow-batched kernel tokenizes each word with the classic
    lowest-rank-first loop (the GPT-2 ``bpe()`` shape): repeatedly
    merge all occurrences of the lowest-ranked adjacent pair,
    left-to-right, until no ranked pair remains. Equivalent to
    replaying the merges in training order (each training merge was
    selected when every lower-ranked merge had already been applied;
    within a pass both apply left-to-right, so overlapping runs like
    "aaa" under (a,a) → [aa, a] agree) — the equivalence is pinned
    per-document against ``bpe_encode`` in tests and by the q164
    invariant. Per-batch word cache: corpora repeat words heavily, so
    each distinct word tokenizes once per Arrow batch.

    Shuffle-free narrow projection, same contract as ``bpe_encode``:
    returns (id, bpe_tokens, n_bpe_tokens). The ranks dict rides a
    real ``SparkContext.broadcast`` (one copy per executor, not per
    task — at 32k merges the pickled closure would otherwise ship
    ~1 MB with every task).
    """
    ranks = {(l, r): i for i, (l, r) in enumerate(merges)}
    bc = df.sparkSession.sparkContext.broadcast(ranks)

    @F.pandas_udf("array<string>")
    def tok(texts: pd.Series) -> pd.Series:
        rk = bc.value
        cache: dict = {}

        def encode_word(w: str) -> list:
            hit = cache.get(w)
            if hit is not None:
                return hit
            syms = list(w) + [end_marker]
            while len(syms) > 1:
                best_rank = None
                for i in range(len(syms) - 1):
                    r = rk.get((syms[i], syms[i + 1]))
                    if r is not None and (best_rank is None or r < best_rank):
                        best_rank = r
                if best_rank is None:
                    break
                left, right = merges_list[best_rank]
                out = []
                i = 0
                while i < len(syms):
                    if (
                        i < len(syms) - 1
                        and syms[i] == left
                        and syms[i + 1] == right
                    ):
                        out.append(left + right)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            cache[w] = syms
            return syms

        merges_list = sorted(rk, key=rk.get)
        out = []
        for t in texts:
            doc: list = []
            for w in (t or "").split():
                if w:
                    doc.extend(encode_word(w))
            out.append(doc)
        return pd.Series(out)

    # size computed on the aliased column in a second projection so the
    # kernel provably runs once per row whatever the dedup rule does
    return (
        df.select(F.col(id_col), tok(F.col(text_col)).alias("bpe_tokens"))
        .withColumn("n_bpe_tokens", F.size("bpe_tokens"))
    )


def corpus_datasheet(
    df: DataFrame,
    text_col: str = "text",
    by: str = "source",
    lang_col: str = "lang",
    chars_col: str = "n_chars",
) -> DataFrame:
    """Per-slice corpus DATASHEET — the summary table every
    training-data release publishes ("Datasheets for Datasets",
    Gebru et al., CACM'21; the reference's closest surface is the
    per-pipeline summary print at
    `/root/reference/pipelines/precipitation_pipeline.py` final
    logging): doc/token/char volumes, language spread, exact-dup rate
    and quality pass-rate per ``by`` slice, in ONE aggregation pass.

    One aggregation PASS (no window, join, or second scan); shuffle
    shape, stated honestly: the two COUNT(DISTINCT …) columns make
    Spark plan an Expand + two exchanges, and the first exchange is
    keyed on the distinct values — which is why the dup-rate distinct
    counts a sha2-256 DIGEST of the normalized text, not the text
    itself (the exact_dedup key discipline): the corpus-sized exchange
    carries 32-byte keys, never document bodies. Token counts are
    array expressions on the scan and the quality flag reuses the
    engine-wide ``quality_predicate`` (NULL-safe: an unscorable doc
    counts as failing, matching the SQL CASE..ELSE 0 twin). The SQL
    oracle counts DISTINCT raw normalized text — equal by sha2
    injectivity, the same equivalence exact_dedup (q36) stands on.
    """
    toks = tokens(text_col)
    n = F.size(toks)
    ok = F.when(quality_predicate(text_col), F.lit(1)).otherwise(F.lit(0))
    norm = F.sha2(normalize_text(F.col(text_col)), 256)
    base = df.select(
        F.col(by),
        F.col(lang_col),
        F.col(chars_col),
        n.alias("_n_tok"),
        norm.alias("_norm"),
        ok.alias("_ok"),
    )
    n_docs = F.count("*")
    n_unique = F.countDistinct("_norm")
    return base.groupBy(by).agg(
        n_docs.alias("n_docs"),
        F.sum("_n_tok").cast("long").alias("total_tokens"),
        oracle_round(F.avg("_n_tok"), 6).alias("avg_tokens"),
        F.sum(chars_col).cast("long").alias("total_chars"),
        F.countDistinct(lang_col).alias("n_langs"),
        n_unique.alias("n_unique_docs"),
        oracle_round(
            F.lit(1.0) - n_unique.cast("double") / n_docs.cast("double"), 6
        ).alias("dup_rate"),
        oracle_round(F.avg("_ok"), 6).alias("quality_pass_rate"),
    )


def cross_source_overlap(
    df: DataFrame,
    text_col: str = "text",
    by: str = "source",
) -> DataFrame:
    """Source×source duplicate-overlap MATRIX — the companion table a
    corpus datasheet (:func:`corpus_datasheet`) publishes when the
    release mixes crawls: for every pair of sources, how many DISTINCT
    normalized documents appear in both (CommonCrawl snapshots overlap
    60-80% month-to-month; a mixing recipe that double-counts them
    skews every token budget downstream).

    Plan — never a digest×digest self-join: one distinct over
    (sha2 digest, source) → one ``collect_set(source)`` per digest
    (bounded by |sources|, a few dozen in any real mix, NOT by corpus
    size) → ordered pairs exploded from each set map-side (|S|²/2
    tiny rows per duplicated digest; digests in one source emit
    nothing) → one final agg on (source_a, source_b). Two
    corpus-sized exchanges total, both keyed on the 32-byte digest —
    document text never shuffles. The overlap fraction joins the
    |sources|-row per-source distinct counts back via broadcast.
    The SQL oracle does the naive distinct self-join instead — equal
    by sha2 injectivity on normalized text (the q36/q180 discipline).

    Returns (source_a, source_b, n_shared, overlap_frac) with
    source_a < source_b and overlap_frac = n_shared / min(|A|, |B|)
    over distinct docs.
    """
    digests = df.select(
        F.sha2(normalize_text(F.col(text_col)), 256).alias("_d"),
        F.col(by).alias("_src"),
    ).distinct()
    per_source = digests.groupBy("_src").agg(
        F.count("*").alias("_n")
    )
    sets = digests.groupBy("_d").agg(
        F.array_sort(F.collect_set("_src")).alias("_srcs")
    )
    # ordered pairs from each digest's source set, map-side: for the
    # sorted set [s0..sm], flatten over i of transform over j>i
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("_srcs"),
                    lambda a, i: F.transform(
                        F.slice(
                            F.col("_srcs"),
                            i + 2,
                            F.greatest(
                                F.size(F.col("_srcs")) - i - 1, F.lit(0)
                            ),
                        ),
                        lambda b: F.struct(
                            a.alias("source_a"), b.alias("source_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.source_a", "p.source_b")
    counts = pairs.groupBy("source_a", "source_b").agg(
        F.count("*").alias("n_shared")
    )
    na = per_source.select(
        F.col("_src").alias("source_a"), F.col("_n").alias("_na")
    )
    nb = per_source.select(
        F.col("_src").alias("source_b"), F.col("_n").alias("_nb")
    )
    return (
        counts.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            oracle_round(
                F.col("n_shared").cast("double")
                / F.least("_na", "_nb").cast("double"),
                6,
            ).alias("overlap_frac"),
        )
    )


# Gopher rule thresholds (Rae et al. 2021, Table A1 — scaled to the
# fixture's 10-100-token docs; the real pipeline would use the paper's
# 50..100k-token bounds). A doc KEEPS only if every rule passes; the
# failed-rule names travel with the row so downstream audits can see
# WHY a slice died (the release-note question "what did rule X cost
# per source" is one groupBy away).
GOPHER_MIN_TOKENS = 10
GOPHER_MAX_TOKENS = 100_000
GOPHER_MIN_MEAN_TOK_LEN = 2.0
GOPHER_MAX_MEAN_TOK_LEN = 12.0
GOPHER_MIN_TTR = 0.2          # type-token ratio floor (templated spam)
GOPHER_MAX_DUP_BIGRAM = 0.55  # fraction of bigram slots in repeated bigrams
GOPHER_MAX_RUN = 6            # longest same-token run ("buy buy buy ...")


def _gopher_metrics(text_col: str) -> dict:
    """The five Gopher metrics as pure Column expressions over one
    token array — shared by :func:`gopher_rules` (the reporting
    operator) and :func:`gopher_keep` (the curation-stage predicate)
    so the rule math can never drift between the two."""
    toks = tokens(text_col)
    n = F.size(toks)
    # n == 0 guard: ANSI mode makes 0/0 throw; a zero-token doc gets
    # NULL mean/ttr (matching DuckDB's NULL-on-empty list_sum/0) and
    # fails only too_few_tokens.
    ttr = F.when(n > 0, oracle_round(
        F.size(F.array_distinct(toks)).cast("double") / n.cast("double"), 6
    ))
    mean_len = F.when(n > 0, oracle_round(
        F.aggregate(
            toks, F.lit(0).cast("long"),
            lambda acc, x: acc + F.length(x),
        ).cast("double")
        / n.cast("double"),
        6,
    ))

    def _dup_occurrences(arr):
        # sum of run lengths > 1 over the sorted array = number of
        # occurrences that belong to a repeated element
        def _step(acc, x):
            run = F.when(acc["prev"] == x, acc["run"] + 1).otherwise(F.lit(1))
            add = F.when(
                (acc["prev"] != x) & (acc["run"] > 1), acc["run"]
            ).otherwise(F.lit(0))
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                (acc["dup"] + add).alias("dup"),
            )

        return F.aggregate(
            F.array_sort(arr),
            F.struct(
                F.lit(None).cast("string").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("dup"),
            ),
            _step,
            lambda acc: acc["dup"]
            + F.when(acc["run"] > 1, acc["run"]).otherwise(F.lit(0)),
        )

    bigrams = shingles(text_col, 2)
    n_bi = F.size(bigrams)
    dup_bi_frac = F.when(n_bi > 0, oracle_round(
        _dup_occurrences(bigrams).cast("double") / n_bi.cast("double"), 6
    )).otherwise(F.lit(0.0))

    def _max_run(arr):
        # longest run of equal CONSECUTIVE tokens (unsorted — order
        # matters for "buy buy buy")
        def _step(acc, x):
            run = F.when(acc["prev"] == x, acc["run"] + 1).otherwise(F.lit(1))
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                F.greatest(acc["best"], run).alias("best"),
            )

        return F.aggregate(
            arr,
            F.struct(
                F.lit(None).cast("string").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
            ),
            _step,
            lambda acc: acc["best"],
        )

    return {
        "n_tokens": n,
        "mean_tok_len": mean_len,
        "ttr": ttr,
        "dup_bigram_frac": dup_bi_frac,
        "max_run": _max_run(toks),
    }


def _gopher_rule_conds(m: dict) -> list:
    """(name, failure condition) pairs over a metrics mapping — pass
    ``F.col``-based refs (gopher_rules, metrics already projected) or
    the raw expressions from :func:`_gopher_metrics` (gopher_keep)."""
    return [
        ("too_few_tokens", m["n_tokens"] < GOPHER_MIN_TOKENS),
        ("too_many_tokens", m["n_tokens"] > GOPHER_MAX_TOKENS),
        ("mean_tok_len", (m["mean_tok_len"] < GOPHER_MIN_MEAN_TOK_LEN)
                         | (m["mean_tok_len"] > GOPHER_MAX_MEAN_TOK_LEN)),
        ("low_ttr", m["ttr"] < GOPHER_MIN_TTR),
        ("dup_bigrams", m["dup_bigram_frac"] > GOPHER_MAX_DUP_BIGRAM),
        ("long_run", m["max_run"] > GOPHER_MAX_RUN),
    ]


def gopher_keep(text_col: str = "text"):
    """The Gopher gate as ONE boolean Column — the curation-pipeline
    form of :func:`gopher_rules` (same metrics, same thresholds,
    shared code), usable as a plain ``df.filter(...)`` with zero
    shuffles and no join-back. NULL metrics (zero-token docs) fail
    only the token-count rule, matching the reporting operator."""
    conds = [
        F.coalesce(cond, F.lit(False))
        for _name, cond in _gopher_rule_conds(_gopher_metrics(text_col))
    ]
    out = F.lit(True)
    for c in conds:
        out = out & ~c
    return out


def gopher_rules(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition/format quality GATE (Rae et al. 2021
    App. A1; the rule family MassiveText, RefinedWeb and Dolma all
    re-implement): per-doc token-count bounds, mean token length
    bounds, type-token ratio floor, duplicate-bigram fraction ceiling
    (TOTAL occurrences in repeated bigrams — the companion to
    :func:`repetition_ratio`'s single-max-gram signal), and a
    longest same-token-run ceiling. Emits every metric, the keep
    flag, and the comma-joined names of failed rules.

    Scale: ZERO shuffles — every metric is a per-row Column
    expression over one token array. The duplicate-bigram fraction
    and max run both come from single ``aggregate()`` run-length
    scans over a SORTED gram/token array (the repetition_ratio
    pattern: O(n log n) per row, lambda touches only accumulator and
    element so Catalyst cannot re-inline the tokenize subtree), not
    an explode → groupBy — a 100 TB corpus pays exactly one scan and
    writes one row per doc.

    The aggregate() scans are interpreted (higher-order functions are
    CodegenFallback), ~0.9 CPU-s for the 600 KB sf0.1 corpus, so a
    few-split scan leaves the stage CPU-bound on 2 cores:
    ``spread_for_cpu`` redistributes it exactly as the minhash/simhash
    kernels do (measured: q183 2.8 s → ~0.8 s at sf0.1; at 100 TB the
    scan has ≫ cores splits and the spread no-ops — optimization
    guide §2.6 idle-capacity rule).
    """
    df = spread_for_cpu(df, chunk_bytes=CPU_CHUNK_BYTES)
    m = _gopher_metrics(text_col)
    base = df.select(
        F.col(id_col),
        m["n_tokens"].alias("n_tokens"),
        m["mean_tok_len"].alias("mean_tok_len"),
        m["ttr"].alias("ttr"),
        m["dup_bigram_frac"].alias("dup_bigram_frac"),
        m["max_run"].alias("max_run"),
    )
    rules = _gopher_rule_conds({k: F.col(k) for k in base.columns if k != id_col})
    failed = F.concat_ws(
        ",",
        F.filter(
            F.array(*[
                F.when(cond, F.lit(name)).otherwise(F.lit(None))
                for name, cond in rules
            ]),
            lambda x: x.isNotNull(),
        ),
    )
    return base.select(
        "*",
        (failed == "").alias("keep"),
        failed.alias("failed_rules"),
    )


# Domain-profile flag thresholds (RefinedWeb §3.1 / Dolma's URL
# filtering stage both gate on domain-level aggregates before any
# per-doc scoring — a spam farm is cheaper to kill once at its domain
# row than a million times at its docs).
DOMAIN_MAX_DUP_RATE = 0.5
DOMAIN_MIN_QUALITY_RATE = 0.25


def domain_stats(
    df: DataFrame, url_col: str = "url", text_col: str = "text"
) -> DataFrame:
    """MERGEABLE sufficient statistics for the domain-reputation
    profile, keyed (domain, _norm): occurrence count, quality-pass
    sum, token sum. Two properties make this the increment-safe form:

    - the full profile (:func:`domain_profile_from_stats`) needs only
      these rows — countDistinct(norm) becomes a row count;
    - two stats tables UNION + re-aggregate to exactly the stats of
      the combined corpus, so a day-N increment merges its batch
      stats with the base corpus's PERSISTED stats instead of
      re-reading base text (the shingle_df partial-counts pattern,
      plans/llm_curation.py).

    One (domain, 32-byte digest)-keyed exchange; text never shuffles.
    """
    from climate_data_pipelines_spark.functions.text import url_host

    norm = F.sha2(normalize_text(F.col(text_col)), 256)
    ok = F.when(quality_predicate(text_col), F.lit(1)).otherwise(F.lit(0))
    return (
        df.select(
            url_host(F.col(url_col)).alias("domain"),
            norm.alias("_norm"),
            ok.alias("_ok"),
            F.size(tokens(text_col)).alias("_n_tok"),
        )
        .groupBy("domain", "_norm")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("_ok").alias("ok_sum"),
            F.sum("_n_tok").alias("tok_sum"),
        )
    )


def domain_profile_from_stats(stats: DataFrame) -> DataFrame:
    """Fold (domain, _norm)-keyed sufficient stats into the per-domain
    reputation profile (one |domains|-bounded agg). ``stats`` may
    contain PARTIAL rows for the same (domain, _norm) — appended
    increments — which are re-merged here before the profile math, so
    a re-crawled duplicate never double-counts as unique."""
    merged = stats.groupBy("domain", "_norm").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("ok_sum").alias("ok_sum"),
        F.sum("tok_sum").alias("tok_sum"),
    )
    n_docs = F.sum("cnt")
    n_unique = F.count("*")
    return merged.groupBy("domain").agg(
        n_docs.alias("n_docs"),
        n_unique.alias("n_unique_docs"),
        oracle_round(
            F.lit(1.0) - n_unique.cast("double") / n_docs.cast("double"), 6
        ).alias("dup_rate"),
        oracle_round(
            F.sum("ok_sum").cast("double") / n_docs.cast("double"), 6
        ).alias("quality_pass_rate"),
        oracle_round(
            F.sum("tok_sum").cast("double") / n_docs.cast("double"), 6
        ).alias("avg_tokens"),
    )


def domain_reputation(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    max_dup_rate: float = DOMAIN_MAX_DUP_RATE,
    min_quality_rate: float = DOMAIN_MIN_QUALITY_RATE,
) -> DataFrame:
    """Domain-level REPUTATION profile + gate — the curation stage
    that runs between URL dedup (q175) and per-doc quality scoring:
    aggregate every crawled doc by its normalized host and flag whole
    domains whose duplicate rate or quality pass-rate marks them as
    mirrors/spam farms (RefinedWeb and Dolma both gate on domain
    aggregates before paying per-doc classifiers; the reference's
    ingest is two trusted fixed URLs —
    `/root/reference/pipelines/precipitation_pipeline.py:33-36` — so
    this is that surface generalized to an untrusted crawl).

    Plan: two host-keyed aggregations via the MERGEABLE sufficient
    stats (:func:`domain_stats` → :func:`domain_profile_from_stats`,
    the increment-safe split): one (domain, digest) exchange, one
    |domains|-bounded fold — both carrying 32-byte sha2 keys, never
    text (the corpus_datasheet shuffle discipline); output is
    |domains| rows. Docs from flagged domains are then
    dropped with one broadcast semi-join — the profile IS the filter
    dimension, no second corpus shuffle. Malformed URLs land in the
    ``''`` host row (url_host's junk guard) and never pollute a real
    domain's stats.

    Returns (domain, n_docs, n_unique_docs, dup_rate,
    quality_pass_rate, avg_tokens, keep, failed_rules).
    """
    return domain_flags(
        domain_profile_from_stats(domain_stats(df, url_col, text_col)),
        max_dup_rate=max_dup_rate,
        min_quality_rate=min_quality_rate,
    )


def domain_flags(
    prof: DataFrame,
    max_dup_rate: float = DOMAIN_MAX_DUP_RATE,
    min_quality_rate: float = DOMAIN_MIN_QUALITY_RATE,
) -> DataFrame:
    """Apply the reputation rules to a domain profile frame — split
    out so the curation pipeline can gate on a profile folded from
    PERSISTED increment stats with the exact same rule math."""
    rules = [
        ("high_dup", F.col("dup_rate") > max_dup_rate),
        ("low_quality", F.col("quality_pass_rate") < min_quality_rate),
        ("bad_url", F.col("domain") == ""),
    ]
    failed = F.concat_ws(
        ",",
        F.filter(
            F.array(*[
                F.when(cond, F.lit(name)).otherwise(F.lit(None))
                for name, cond in rules
            ]),
            lambda x: x.isNotNull(),
        ),
    )
    return prof.select(
        "*",
        (failed == "").alias("keep"),
        failed.alias("failed_rules"),
    )


# C4 line-cleaning rules (Raffel et al., JMLR 2020 §2.2): the
# line-level scrub every web-text pipeline applies BEFORE any
# doc-level scoring. Thresholds are C4's own.
C4_MIN_LINE_WORDS = 5
C4_MIN_KEPT_LINES = 3
C4_TERMINAL_RE = r'[.!?"]$'
C4_BLOCKLIST = ("lorem ipsum", "javascript", "{")


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_words: int = C4_MIN_LINE_WORDS,
    min_kept_lines: int = C4_MIN_KEPT_LINES,
) -> DataFrame:
    """C4-style LINE cleaning (Raffel et al. 2020 §2.2 — the scrub
    T5's corpus and every successor applies): keep only lines that
    end in terminal punctuation, hold >= ``min_line_words`` words,
    and contain none of the blocklist markers ('lorem ipsum',
    'javascript', '{'); then drop DOCUMENTS left with fewer than
    ``min_kept_lines`` kept lines. Emits the cleaned text (kept
    lines re-joined), per-doc line counts, and the keep flag.

    Scale: ZERO shuffles — split on newline, one ``filter()`` lambda
    over the line array (word count / terminal-punct rlike /
    blocklist contains are all per-element JVM expressions), one
    ``array_join`` back. A 100 TB crawl pays exactly one scan; the
    doc-level gate is a column, not a second pass. The SQL oracle
    replays the same lambda with DuckDB list_filter.

    The line-filter lambdas are interpreted HOFs (CodegenFallback) —
    CPU-bound per row, so the few-split scan gets the same
    ``spread_for_cpu`` treatment as gopher_rules (no-op at scale).
    """
    df = spread_for_cpu(df, chunk_bytes=CPU_CHUNK_BYTES)
    lines = F.split(F.col(text_col), r"\n")
    kept = c4_kept_lines(text_col, min_line_words)
    n_kept = F.size(kept)
    return df.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        n_kept.alias("n_kept_lines"),
        F.array_join(kept, "\n").alias("text_clean"),
        (n_kept >= min_kept_lines).alias("keep"),
    )


def c4_kept_lines(
    text_col: str = "text", min_line_words: int = C4_MIN_LINE_WORDS
) -> Column:
    """The kept-lines array of the C4 scrub as a standalone Column —
    shared by :func:`c4_line_filter` (the reporting operator) and the
    curation pipeline's pre-quality scrub stage so the line rules can
    never drift between the two. Pure per-element JVM expressions."""
    lines = F.split(F.col(text_col), r"\n")

    def _line_ok(ln):
        words = F.size(F.filter(F.split(ln, r"\s+"), lambda t: t != ""))
        has_terminal = ln.rlike(C4_TERMINAL_RE)
        blocked = F.lit(False)
        for marker in C4_BLOCKLIST:
            blocked = blocked | F.lower(ln).contains(marker)
        return (words >= min_line_words) & has_terminal & ~blocked

    return F.filter(lines, _line_ok)
