from __future__ import annotations

from pyspark.sql import functions as F

from climate_data_pipelines_spark.operators import textops


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_count_sums_to_token_total(spark):
    df = _docs(spark, [(1, "a b a"), (2, "b c")])
    wc = {r.word: r.n for r in textops.word_count(df).collect()}
    assert wc == {"a": 2, "b": 2, "c": 1}


def test_token_stats_whitespace_vs_regex(spark):
    df = _docs(spark, [(1, "hello,  world foo-bar")])
    r = textops.token_stats(df).first()
    assert r.n_tokens_ws == 3          # split on whitespace runs
    assert r.n_tokens_re == 4          # hello, world, foo, bar
    assert r.n_chars == len("hello,  world foo-bar")


def test_quality_score_flags(spark):
    good = " ".join(["word"] * 9 + ["the"])           # 10 tokens, mwl 3.7+
    short = "tiny doc"
    df = _docs(spark, [(1, good), (2, short)])
    rows = {r.doc_id: r for r in textops.quality_score(df).collect()}
    assert rows[1].passes_quality
    assert not rows[2].passes_quality  # < 10 tokens
    assert rows[1].stopword_ratio == 0.1


def test_language_id_markers(spark):
    df = _docs(
        spark,
        [
            (1, "der hund und die katze und das haus"),
            (2, "the value is a fast the the"),
            (3, "xyz qrs tuv"),  # no markers: all scores 0 → alphabetical first
        ],
    )
    rows = {r.doc_id: r for r in textops.language_id(df).collect()}
    assert rows[1].pred_lang == "de"
    assert rows[2].pred_lang == "en"
    assert rows[3].pred_lang == "de"   # deterministic tie-break


def test_fingerprint_normalization_invariance(spark):
    df = _docs(spark, [(1, "Hello  World"), (2, "hello world"), (3, "other")])
    fps = {r.doc_id: r.fingerprint for r in textops.fingerprint(df).collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]
    shard = textops.fingerprint(df).first().shard_key
    assert len(shard) == 8


def test_redact_emails_and_urls(spark):
    df = spark.createDataFrame(
        [
            (1, "contact me at alice@example.com or https://a.example/x today"),
            (2, "no pii here at all"),
            (3, "two mails a@b.co c@d.org and http://e.f/g"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.redact(df).collect()}
    assert out[1].redacted == "contact me at <EMAIL> or <URL> today"
    assert (out[1].n_emails, out[1].n_urls) == (1, 1)
    assert out[2].redacted == "no pii here at all"
    assert (out[2].n_emails, out[2].n_urls) == (0, 0)
    assert out[3].n_emails == 2 and out[3].n_urls == 1
    assert "@" not in out[3].redacted


def test_repetition_ratio_flags_boilerplate(spark):
    df = spark.createDataFrame(
        [
            (1, "buy now buy now buy now buy now"),       # highly repetitive
            (2, "the quick brown fox jumps over the dog"),  # natural-ish
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.repetition_ratio(df, k=2).collect()}
    # doc 1: 7 bigrams, "buy now" occurs 4x -> 4/7
    assert out[1].n_grams == 7
    assert abs(out[1].max_gram_ratio - 4 / 7) < 1e-5
    assert out[2].max_gram_ratio < out[1].max_gram_ratio


def test_sentence_stats(spark):
    df = spark.createDataFrame(
        [
            (1, "one two three. four five! six seven eight nine?"),
            (2, "no terminal punctuation at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.sentence_stats(df).collect()}
    assert out[1].n_sentences == 3
    assert abs(out[1].mean_sentence_tokens - (3 + 2 + 4) / 3) < 1e-5
    assert out[2].n_sentences == 1
    assert abs(out[2].mean_sentence_tokens - 5.0) < 1e-5


def test_vocab_topk_ranks_by_doc_freq(spark):
    df = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "apple cherry"),
            (3, "banana banana"),
        ],
        "doc_id long, text string",
    )
    out = textops.vocab_topk(df, k=2).collect()
    # apple in 2 docs (tf 3), banana in 2 docs (tf 3) -> tie broken by token
    assert [(r.token, r.doc_freq, r.term_freq) for r in out] == [
        ("apple", 2, 3),
        ("banana", 2, 3),
    ]


def test_line_dedup_first_occurrence_wins_and_reassembles(spark):
    # 2-token lines; doc 1 owns both lines, doc 2 repeats one of doc
    # 1's lines and contributes a new one, doc 3 is pure boilerplate
    df = spark.createDataFrame(
        [
            (1, "a b c d"),          # lines: "a b", "c d"
            (2, "a b x y"),          # "a b" is a repeat; "x y" is new
            (3, "c d a b"),          # both lines already seen -> drops
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.line_dedup(df, line_tokens=2).collect()}
    assert set(out) == {1, 2}
    assert out[1].n_lines_kept == 2 and out[1].text_dedup == "a b c d"
    assert out[2].n_lines_kept == 1 and out[2].text_dedup == "x y"


def test_line_dedup_keeper_projection_matches_semi_join(spark):
    # r13 optimization parity pin: line_dedup now projects the
    # min-struct keeper rows directly instead of semi-joining them
    # back into a second computation of the lines table. The two
    # formulations must select the identical kept-line set (lines has
    # exactly one row per (doc_id, line_id), so the keeper tuple IS
    # the semi-join's selected row).
    from pyspark.sql import functions as F
    from climate_data_pipelines_spark.functions.text import tokens

    df = spark.createDataFrame(
        [
            (1, "a b c d a b"),     # repeats its own first line at pos 2
            (2, "a b x y"),
            (3, "c d a b"),
            (4, "x y"),
            (5, ""),                # empty doc -> no lines
        ],
        "doc_id long, text string",
    )
    # reference: the explicit semi-join formulation (pre-r13 shape)
    tok = df.select(
        F.col("doc_id"), F.posexplode(tokens("text")).alias("pos", "token")
    )
    lines = (
        tok.withColumn("line_id", (F.col("pos") / 2).cast("int"))
        .groupBy("doc_id", "line_id")
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
    keepers = lines.groupBy("line").agg(
        F.min(F.struct(F.col("doc_id"), F.col("line_id"))).alias("k")
    )
    ref_kept = lines.join(
        keepers.select(
            F.col("line"),
            F.col("k.doc_id").alias("doc_id"),
            F.col("k.line_id").alias("line_id"),
        ),
        ["doc_id", "line_id", "line"],
        "left_semi",
    )
    ref = {
        (r.doc_id, r.line_id, r.line) for r in ref_kept.collect()
    }
    # shipped operator's final output must equal the reference's
    # reassembly of exactly that kept set
    ref_docs = {}
    for doc_id, line_id, line in sorted(ref):
        ref_docs.setdefault(doc_id, []).append(line)
    out = {r.doc_id: r for r in textops.line_dedup(df, line_tokens=2).collect()}
    assert set(out) == set(ref_docs)
    for doc_id, lines_kept in ref_docs.items():
        assert out[doc_id].n_lines_kept == len(lines_kept)
        assert out[doc_id].text_dedup == " ".join(lines_kept)


def test_repeated_ngrams_flags_shared_spans(spark):
    from climate_data_pipelines_spark.operators import textops

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),     # shares the first 8-gram with 2
            (2, "a b c d e f g h x y"),
            (3, "p q r s t u v w z z"),     # unique content
            (4, "short text"),              # < k tokens -> 1 whole-text gram
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.repeated_ngrams(df, k=8, min_docs=2).collect()}
    assert set(out) == {1, 2, 3, 4}
    # 10 tokens, k=8 -> 3 gram positions each
    assert out[1].n_grams == 3 and out[3].n_grams == 3
    # docs 1/2 share exactly the gram at position 0 ("a b c d e f g h")
    assert out[1].n_repeated == 1 and out[2].n_repeated == 1
    assert abs(out[1].repeated_frac - 1 / 3) < 1e-6
    assert out[3].n_repeated == 0 and out[3].repeated_frac == 0.0
    # sub-k doc: single whole-text shingle, unique here
    assert out[4].n_grams == 1 and out[4].n_repeated == 0


def test_repeated_ngrams_min_docs_threshold(spark):
    from climate_data_pipelines_spark.operators import textops

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a b")], "doc_id long, text string"
    )
    # whole-text shingle shared by 3 docs: min_docs=3 still flags it,
    # min_docs=4 does not
    out3 = {r.doc_id: r.n_repeated for r in
            textops.repeated_ngrams(df, k=8, min_docs=3).collect()}
    out4 = {r.doc_id: r.n_repeated for r in
            textops.repeated_ngrams(df, k=8, min_docs=4).collect()}
    assert out3 == {1: 1, 2: 1, 3: 1}
    assert out4 == {1: 0, 2: 0, 3: 0}


def test_repeated_spans_merges_overlapping_hits(spark):
    # docs 1/2 share an 8-gram; doc 1 embeds it at offset 0, doc 2 at
    # offset 2; doc 3 is untouched. Overlapping 8-gram hits inside a
    # longer shared run must merge into ONE maximal span.
    shared = "a b c d e f g h i j"  # 10 tokens -> 3 shared 8-grams each
    df = spark.createDataFrame(
        [
            (1, shared + " unique one"),
            (2, "pre pad " + shared),
            (3, "totally different content here now"),
        ],
        "doc_id long, text string",
    )
    spans = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in textops.repeated_spans(df, k=8).collect()
    }
    assert spans == {(1, 0, 10, 10), (2, 2, 12, 10)}


def test_strip_repeated_spans_preserves_unique_text(spark):
    shared = "a b c d e f g h"
    df = spark.createDataFrame(
        [
            (1, shared + " unique tail one"),
            (2, "prefix two " + shared + " done"),
            (3, "totally different content here now"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.text_dedup for r in textops.strip_repeated_spans(df, k=8).collect()}
    assert out[1] == "unique tail one"
    assert out[2] == "prefix two done"
    assert out[3] == "totally different content here now"  # untouched


def test_repeated_spans_short_doc_clamps_to_length(spark):
    # identical short docs (< k tokens): the single whole-text shingle
    # covers exactly [0, n_tokens), never past the end
    df = spark.createDataFrame(
        [(1, "tiny dup doc"), (2, "tiny dup doc")], "doc_id long, text string"
    )
    spans = {(r.doc_id, r.span_start, r.span_end) for r in
             textops.repeated_spans(df, k=8).collect()}
    assert spans == {(1, 0, 3), (2, 0, 3)}
    out = {r.doc_id: r.text_dedup for r in
           textops.strip_repeated_spans(df, k=8).collect()}
    assert out == {1: "", 2: ""}


def test_quality_percentile_known_ordering_and_ties(spark):
    from climate_data_pipelines_spark.operators import textops

    df = spark.createDataFrame(
        [
            (1, "en", "a a a a a a a a a a"),          # dr = 0.1
            (2, "en", "a b c d e f g h i j"),          # dr = 1.0
            (3, "en", "a a b b c c d d e e"),          # dr = 0.5
            (4, "en", "x x y y z z w w v v"),          # dr = 0.5 (tie)
            (5, "de", "a b a b a b a b a b"),          # own group
        ],
        "doc_id long, lang string, text string",
    )
    rows = {r["doc_id"]: r for r in textops.quality_percentile(df).collect()}
    assert rows[1]["quality_pctile"] == 0.0
    assert rows[2]["quality_pctile"] == 1.0
    # ties share the same percentile regardless of order
    assert rows[3]["quality_pctile"] == rows[4]["quality_pctile"]
    # a single-row group gets percent_rank 0
    assert rows[5]["quality_pctile"] == 0.0


def test_heavy_hitters_equals_exact_topk(spark, sf_dir):
    """Sample-then-verify must recover the exact top-10 with exact
    counts on the fixture (every vocab token appears in far more than
    10 documents, so nomination is effectively certain)."""
    from climate_data_pipelines_spark.catalog import load_table
    from climate_data_pipelines_spark.operators import textops

    docs = load_table(spark, sf_dir, "documents")
    hh = [(r["token"], r["term_freq"])
          for r in textops.heavy_hitters_topk(docs, k=10).collect()]
    tok = docs.select(F.explode(F.split("text", " ")).alias("token")).filter(
        F.col("token") != ""
    )
    exact = [
        (r["token"], r["c"])
        for r in tok.groupBy("token").agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("token")).limit(10).collect()
    ]
    assert hh == exact


def test_heavy_hitters_plan_shape(spark, sf_dir):
    """Both top-Ns are TakeOrderedAndProject and the exact phase is
    gated by a broadcast semi-join — never a full-vocab second
    shuffle or a global sort."""
    from climate_data_pipelines_spark.catalog import load_table
    from climate_data_pipelines_spark.operators import textops

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        textops.heavy_hitters_topk(docs, k=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("TakeOrderedAndProject") == 2
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def _ref_bpe(word_counts, n_merges, end="</w>"):
    """Independent in-memory BPE (Sennrich): same greedy left-to-right
    apply and (count desc, pair asc) tie-break as the operator."""
    words = {}
    for w, c in word_counts.items():
        words[tuple(list(w) + [end])] = words.get(tuple(list(w) + [end]), 0) + c
    merges = []
    for i in range(n_merges):
        pairs = {}
        for syms, c in words.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        (l, r), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < 2:
            break
        merges.append((i, l, r, c))
        new = {}
        for syms, cnt in words.items():
            out = []
            for s in syms:
                if out and out[-1] == l and s == r:
                    out[-1] = l + r
                else:
                    out.append(s)
            new[tuple(out)] = new.get(tuple(out), 0) + cnt
        words = new
    return merges


def test_bpe_train_matches_reference_small(spark):
    from climate_data_pipelines_spark.operators import textops

    corpus = ["low low low lower lower newest newest newest newest widest widest"]
    df = spark.createDataFrame([(0, corpus[0])], "doc_id long, text string")
    got = [
        (r["merge_idx"], r["left"], r["right"], r["pair_count"])
        for r in textops.bpe_train(df, n_merges=8).collect()
    ]
    wc = {}
    for w in corpus[0].split():
        wc[w] = wc.get(w, 0) + 1
    assert got == _ref_bpe(wc, 8)
    # sanity: the classic example learns 'est</w>' pieces first
    assert got[0][1:3] == ("e", "s")


def test_bpe_train_matches_reference_fixture(spark, sf_dir):
    from climate_data_pipelines_spark.catalog import load_table
    from climate_data_pipelines_spark.operators import textops

    docs = load_table(spark, sf_dir, "documents").limit(200)
    got = [
        (r["merge_idx"], r["left"], r["right"], r["pair_count"])
        for r in textops.bpe_train(docs, n_merges=12).collect()
    ]
    wc = {}
    for r in docs.select("text").collect():
        for w in (r["text"] or "").split():
            if w:
                wc[w] = wc.get(w, 0) + 1
    assert got == _ref_bpe(wc, 12)
    assert len(got) == 12


def test_bpe_train_stops_when_no_repeats(spark):
    from climate_data_pipelines_spark.operators import textops

    df = spark.createDataFrame([(0, "ab cd")], "doc_id long, text string")
    # every adjacent pair occurs once -> no merge reaches count 2
    assert textops.bpe_train(df, n_merges=5).count() == 0


def _ref_bpe_batched(
    word_counts, n_merges, batch_m, candidate_factor=4, end="</w>"
):
    """In-memory mirror of the batched (batch_m > 1) train path: top
    batch_m*candidate_factor pairs per round, greedy NON-OVERLAPPING
    accept in (count desc, pair asc) order, all accepted merges
    applied with round-start counts recorded."""
    words = {}
    for w, c in word_counts.items():
        words[tuple(list(w) + [end])] = words.get(tuple(list(w) + [end]), 0) + c
    merges = []
    while len(merges) < n_merges:
        pairs = {}
        for syms, c in words.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        top = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        top = [(p, c) for p, c in top[: batch_m * candidate_factor] if c >= 2]
        if not top:
            break
        used, batch = set(), []
        room = min(batch_m, n_merges - len(merges))
        for (l, r), c in top:
            if l in used or r in used or (l + r) in used:
                continue
            used.update((l, r, l + r))
            batch.append((l, r, c))
            if len(batch) >= room:
                break
        for l, r, c in batch:
            merges.append((len(merges), l, r, c))
        for l, r, _ in batch:
            new = {}
            for syms, cnt in words.items():
                out = []
                for s in syms:
                    if out and out[-1] == l and s == r:
                        out[-1] = l + r
                    else:
                        out.append(s)
                new[tuple(out)] = new.get(tuple(out), 0) + cnt
            words = new
    return merges


def test_bpe_train_batched_matches_reference(spark, sf_dir):
    """batch_m>1 path vs the in-memory batched mirror: identical merge
    table — and the recorded counts are the FROZEN round-start counts
    (exact for disjoint-symbol merges, which is what the greedy
    non-overlap rule guarantees)."""
    from climate_data_pipelines_spark.catalog import load_table
    from climate_data_pipelines_spark.operators import textops

    docs = load_table(spark, sf_dir, "documents").limit(200)
    got = [
        (r["merge_idx"], r["left"], r["right"], r["pair_count"])
        for r in textops.bpe_train(docs, n_merges=18, batch_m=4).collect()
    ]
    wc = {}
    for r in docs.select("text").collect():
        for w in (r["text"] or "").split():
            if w:
                wc[w] = wc.get(w, 0) + 1
    assert got == _ref_bpe_batched(wc, 18, 4)
    assert len(got) == 18


def test_bpe_train_local_matches_distributed(spark, sf_dir, monkeypatch):
    """The driver-local merge loop (vocab under
    ``scale.DRIVER_LOCAL_MAX["bpe"]``, the default on every test
    fixture) must be bit-identical to the forced-distributed loop (a
    zero "bpe" budget) — both the classic m=1 and the batched shape,
    including symbols that are SQL-literal-hostile
    (quotes, backslashes) and non-BMP code points (Spark's split-to-
    chars and Python's list() must agree on surrogate-pair grouping)."""
    from climate_data_pipelines_spark.catalog import load_table
    from climate_data_pipelines_spark.operators import scale, textops

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).limit(150).unionByName(
        spark.createDataFrame(
            [
                (900001, "it's it's it's don''t don''t a\\b a\\b a\\b"),
                (900002, "naïve naïve \U0001f600\U0001f600x "
                         "\U0001f600\U0001f600x \U0001f600\U0001f600x"),
            ],
            "doc_id long, text string",
        )
    )
    for m, batch in ((10, 1), (16, 4)):
        local = [
            (r["merge_idx"], r["left"], r["right"], r["pair_count"])
            for r in textops.bpe_train(docs, n_merges=m, batch_m=batch).collect()
        ]
        with monkeypatch.context() as mp:
            mp.setitem(scale.DRIVER_LOCAL_MAX, "bpe", 0)
            dist = [
                (r["merge_idx"], r["left"], r["right"], r["pair_count"])
                for r in textops.bpe_train(
                    docs, n_merges=m, batch_m=batch
                ).collect()
            ]
        assert local == dist
        assert len(local) == m


def test_bpe_encode_ranked_equals_fold(spark, sf_dir):
    """Ranked Arrow kernel vs the expression-fold encoder: identical
    per-doc token arrays on the fixture corpus (24 trained merges,
    batched train)."""
    from climate_data_pipelines_spark.catalog import load_table
    from climate_data_pipelines_spark.operators import textops

    docs = load_table(spark, sf_dir, "documents").limit(200)
    merges = [
        (r["left"], r["right"])
        for r in textops.bpe_train(docs, n_merges=24, batch_m=8).collect()
    ]
    fold = {r["doc_id"]: list(r["bpe_tokens"])
            for r in textops.bpe_encode(docs, merges).collect()}
    ranked = {r["doc_id"]: list(r["bpe_tokens"])
              for r in textops.bpe_encode_ranked(docs, merges).collect()}
    assert ranked == fold
    ns = {r["doc_id"]: r["n_bpe_tokens"]
          for r in textops.bpe_encode_ranked(docs, merges).collect()}
    assert all(ns[d] == len(ranked[d]) for d in ranked)


def test_bpe_encode_ranked_overlap_semantics(spark):
    """Overlapping runs must match classic greedy left-to-right:
    'aaa' under merge (a,a) -> [aa, a</w>]... exact agreement with the
    sequential fold on adversarial repeats."""
    from climate_data_pipelines_spark.operators import textops

    df = spark.createDataFrame(
        [(0, "aaa aaaa aa a abab ababab")], "doc_id long, text string"
    )
    merges = [("a", "a"), ("a", "b"), ("aa", "a"), ("ab", "ab")]
    fold = textops.bpe_encode(df, merges).collect()[0]
    ranked = textops.bpe_encode_ranked(df, merges).collect()[0]
    assert list(ranked["bpe_tokens"]) == list(fold["bpe_tokens"])


def test_bpe_train_batch_m1_is_classic(spark):
    """batch_m=1 must stay bit-identical to the classic Sennrich path
    (the q162 reference-parity invariant pins this contract)."""
    from climate_data_pipelines_spark.operators import textops

    corpus = "low low low lower lower newest newest newest newest widest widest"
    df = spark.createDataFrame([(0, corpus)], "doc_id long, text string")
    got = [
        (r["merge_idx"], r["left"], r["right"], r["pair_count"])
        for r in textops.bpe_train(df, n_merges=8, batch_m=1).collect()
    ]
    wc = {}
    for w in corpus.split():
        wc[w] = wc.get(w, 0) + 1
    assert got == _ref_bpe(wc, 8)


def _ref_bpe_encode(text, merges, end="</w>"):
    out = []
    for w in text.split():
        if not w:
            continue
        syms = list(w) + [end]
        for l, r in merges:
            nxt = []
            for s in syms:
                if nxt and nxt[-1] == l and s == r:
                    nxt[-1] = l + r
                else:
                    nxt.append(s)
            syms = nxt
        out.extend(syms)
    return out


def test_bpe_encode_matches_reference_and_is_narrow(spark):
    from climate_data_pipelines_spark.operators import textops

    corpus = "low low low lower lower newest newest newest newest widest widest"
    df = spark.createDataFrame([(0, corpus)], "doc_id long, text string")
    merges = [
        (r["left"], r["right"])
        for r in textops.bpe_train(df, n_merges=8).collect()
    ]
    enc = textops.bpe_encode(df, merges)
    row = enc.collect()[0]
    want = _ref_bpe_encode(corpus, merges)
    assert row["bpe_tokens"] == want
    assert row["n_bpe_tokens"] == len(want)
    # training compressed the stream: fewer BPE tokens than characters
    assert len(want) < sum(len(w) + 1 for w in corpus.split())
    # tokenize-with-vocab is a narrow map: zero exchanges in the plan
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_bpe_encode_empty_merges_is_char_split(spark):
    from climate_data_pipelines_spark.operators import textops

    df = spark.createDataFrame([(0, "ab c")], "doc_id long, text string")
    row = textops.bpe_encode(df, []).collect()[0]
    assert row["bpe_tokens"] == ["a", "b", "</w>", "c", "</w>"]


def test_corpus_datasheet_single_pass_semantics(spark):
    """Dup rate counts NORMALIZED duplicates; quality NULL-safety: a
    doc too short to score counts as failing (CASE..ELSE 0 twin); all
    metrics land in one row per source."""
    from climate_data_pipelines_spark.operators import textops

    good = "the quick brown fox jumps over the lazy dog again today"
    rows = [
        (1, good, "en", "srcA", len(good)),
        (2, good.upper(), "en", "srcA", len(good)),   # normalized dup of 1
        (3, "tiny", "en", "srcA", 4),                  # fails quality (short)
        (4, good + " more words here", "de", "srcB", 10),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.source: r for r in textops.corpus_datasheet(df).collect()}
    a = out["srcA"]
    assert a.n_docs == 3 and a.n_unique_docs == 2
    assert abs(a.dup_rate - (1 - 2 / 3)) < 1e-6
    assert abs(a.quality_pass_rate - (2 / 3)) < 1e-6  # doc 3 fails
    assert a.n_langs == 1 and a.total_tokens == 23
    b = out["srcB"]
    assert b.n_docs == 1 and b.dup_rate == 0.0 and b.quality_pass_rate == 1.0


def test_corpus_datasheet_is_one_shuffle(spark):
    """The datasheet's 100 TB contract: exactly one exchange (the
    groupBy(source) hash aggregate), no window, no join."""
    from climate_data_pipelines_spark.operators import textops

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j", "en", "s", 10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    plan = textops.corpus_datasheet(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2  # distinct-agg expands to 2 max
    assert "Window" not in plan and "Join" not in plan


def test_cross_source_overlap_matrix(spark):
    """Pairs are lexicographically oriented, counts are DISTINCT-doc
    based (re-posting the same text twice in one source adds nothing),
    and the fraction divides by the smaller side's distinct count."""
    rows = [
        (1, "shared text one", "b_src"),
        (2, "shared text one", "a_src"),      # same doc in two sources
        (3, "shared text one", "a_src"),      # repeat inside a_src: no-op
        (4, "shared text two", "a_src"),
        (5, "shared text two", "c_src"),
        (6, "only in a", "a_src"),
        (7, "only in c", "c_src"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        (r.source_a, r.source_b): r
        for r in textops.cross_source_overlap(df).collect()
    }
    assert set(out) == {("a_src", "b_src"), ("a_src", "c_src")}
    ab = out[("a_src", "b_src")]
    assert ab.n_shared == 1
    # a_src has 3 distinct docs, b_src has 1 → frac = 1/1
    assert abs(ab.overlap_frac - 1.0) < 1e-6
    ac = out[("a_src", "c_src")]
    assert ac.n_shared == 1 and abs(ac.overlap_frac - 0.5) < 1e-6


def test_cross_source_overlap_no_self_join(spark):
    """The matrix must come from per-digest source SETS, never a
    digest×digest self-join: with S sources the plan's join count is
    the two broadcast profile joins only."""
    df = spark.createDataFrame(
        [(1, "x y z", "s1"), (2, "x y z", "s2")],
        "doc_id long, text string, source string",
    )
    plan = (
        textops.cross_source_overlap(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Join") <= 2  # the two |sources|-row broadcasts


def test_gopher_rules_planted_failures(spark):
    """A single-token repeat fails low_ttr + dup_bigrams + long_run
    together; clean prose keeps; a 3-token doc fails too_few_tokens."""
    clean = "the quick brown fox jumps over a lazy dog tonight"
    spam = " ".join(["buy"] * 30)
    df = spark.createDataFrame(
        [(1, clean), (2, spam), (3, "too short doc")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.gopher_rules(df).collect()}
    assert out[1].keep and out[1].failed_rules == ""
    assert not out[2].keep
    assert out[2].failed_rules == "low_ttr,dup_bigrams,long_run"
    assert out[2].max_run == 30 and abs(out[2].dup_bigram_frac - 1.0) < 1e-6
    assert not out[3].keep and "too_few_tokens" in out[3].failed_rules


def test_gopher_rules_dup_bigram_fraction_exact(spark):
    """dup_bigram_frac counts TOTAL occurrences in repeated bigrams
    (the Gopher statistic), not the max gram: 'a b a b c' has bigrams
    [a b, b a, a b, b c] → 'a b' repeats (2 occurrences) → 2/4."""
    df = spark.createDataFrame([(1, "a b a b c")], "doc_id long, text string")
    r = textops.gopher_rules(df).first()
    assert abs(r.dup_bigram_frac - 0.5) < 1e-6
    assert r.max_run == 1  # no consecutive equal tokens


def test_gopher_rules_zero_token_doc(spark):
    """A zero-token doc must not divide by zero (ANSI mode throws on
    0/0): NULL mean/ttr, dup_bigram_frac 0.0, max_run 0, and ONLY
    too_few_tokens fails — the same degenerate row DuckDB's
    NULL-on-empty list_sum semantics produce, so the q183 twins agree
    if one ever enters a fixture."""
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "ok doc with five words here.")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.gopher_rules(df).collect()}
    for i in (1, 2):
        r = out[i]
        assert r.n_tokens == 0
        assert r.mean_tok_len is None and r.ttr is None
        assert r.dup_bigram_frac == 0.0 and r.max_run == 0
        assert r.failed_rules == "too_few_tokens" and not r.keep


def test_gopher_rules_zero_keyed_shuffles(spark):
    """The gate's 100 TB contract: every metric is a per-row
    expression — no KEYED exchange (agg/join/window) anywhere in the
    plan. The only exchange allowed is spread_for_cpu's round-robin
    scan redistribution (r13: the interpreted HOF metrics are
    CPU-bound, and a few-split scan left cores idle), which the
    split-count guard no-ops at production scale."""
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    plan = textops.gopher_rules(df)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    assert plan.count("Exchange") <= 1  # at most the round-robin spread


def test_domain_reputation_flags(spark):
    """Mirror-farm domains flag high_dup, junk URLs pool in the ''
    row flagged bad_url, healthy domains keep. Host normalization
    (case/www/port) folds messy variants into one row."""
    good = "the quick brown fox jumps over a lazy dog tonight"
    rows = [
        (f"https://www.Good.example.org:443/p{i}", good + f" v{i}")
        for i in range(4)
    ] + [
        ("https://mirror.example.net/a", good),
        ("https://MIRROR.example.net/b", good),
        ("https://mirror.example.net/c", good),
        ("not a url", good),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    out = {r.domain: r for r in textops.domain_reputation(df).collect()}
    assert set(out) == {"good.example.org", "mirror.example.net", ""}
    g = out["good.example.org"]
    assert g.keep and g.n_docs == 4 and g.dup_rate == 0.0
    m = out["mirror.example.net"]
    assert not m.keep and m.failed_rules == "high_dup"
    assert m.n_docs == 3 and m.n_unique_docs == 1
    j = out[""]
    assert not j.keep and "bad_url" in j.failed_rules


def test_url_host_userinfo_and_scheme_port(spark):
    """r9 advice: userinfo never enters the host key, and only the
    scheme's OWN default port folds (http://h:443 is a distinct
    origin; https://h:8080 keeps its port)."""
    from climate_data_pipelines_spark.functions.text import url_host

    cases = [
        ("https://user:pw@www.Example.org:443/a", "example.org"),
        ("http://alice@example.org:80/b", "example.org"),
        ("http://example.org:443/a", "example.org:443"),
        ("https://example.org:8080/a", "example.org:8080"),
        ("HTTPS://EXAMPLE.ORG:443/a", "example.org"),
        ("not a url", ""),
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], "url string")
    got = [r[0] for r in df.select(url_host("url")).collect()]
    assert got == [e for _, e in cases]


def test_c4_line_filter_rules(spark):
    """Line keep = terminal punct AND >=5 words AND no blocklist
    marker; doc keep = >=3 kept lines; cleaned text re-joins only
    kept lines in order."""
    good = "one two three four five words here."
    doc1 = "\n".join([good, "short line.", "no terminal punct here at all",
                      "lorem ipsum dolor sit amet today.", good, good])
    doc2 = "\n".join([good, "function x() { a b c d e. }", good])
    df = spark.createDataFrame(
        [(1, doc1), (2, doc2)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in textops.c4_line_filter(df).collect()}
    r1 = out[1]
    assert r1.n_lines == 6 and r1.n_kept_lines == 3 and r1.keep
    assert r1.text_clean == "\n".join([good, good, good])
    r2 = out[2]
    assert r2.n_kept_lines == 2 and not r2.keep  # '{' line blocked


def test_c4_line_filter_zero_keyed_shuffles(spark):
    """Same contract as gopher_rules: per-row expressions only — no
    keyed exchange; the r13 round-robin spread (≤1 exchange, no-op at
    scale) is the sole allowed redistribution."""
    df = spark.createDataFrame([(1, "a.\nb.")], "doc_id long, text string")
    plan = (
        textops.c4_line_filter(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    assert plan.count("Exchange") <= 1  # at most the round-robin spread


def test_bpe_fold_sql_matches_column_fold(spark):
    # the SQL-string fold (bpe_train's hot loop) must equal the
    # Column fold (_bpe_merge_fold, bpe_encode's form) — including on
    # symbols that need SQL literal escaping
    from pyspark.sql import functions as F

    rows = [
        (["a", "a", "a", "</w>"],),
        (["a", "b", "a", "b", "</w>"],),
        (["'", "\\", "'", "\\", "</w>"],),
        ([],),
    ]
    df = spark.createDataFrame(rows, "syms array<string>")
    for left, right in [("a", "a"), ("a", "b"), ("'", "\\")]:
        col_out = [
            r["o"]
            for r in df.select(
                textops._bpe_merge_fold(F.col("syms"), left, right).alias("o")
            ).collect()
        ]
        sql_out = [
            r["o"]
            for r in df.select(
                F.expr(
                    textops._bpe_merge_fold_sql("syms", left, right)
                ).alias("o")
            ).collect()
        ]
        assert col_out == sql_out, (left, right)
