"""End-to-end test for the LLM curation pipeline (plans/llm_curation):
quality → exact dedup → verified near-dup dedup → decontamination →
temperature mix → shard assignment → shard sink + manifest."""

from __future__ import annotations

import json

import pytest

# Spark jobs of curate_corpus and curate_increment on the fixture's
# even/odd halves (test_curate_job_counts_bounded), as measured; the
# increment with the src0 documents as its benchmark decontaminates
# against their fetched shingle set (that increment ran 62 jobs, and
# the corpus 44, while both always took the Bloom prefilter)
CORPUS_JOBS_MAX = 39
INCREMENT_JOBS_MAX = 53
DECON_INCREMENT_JOBS_MAX = 57
# a packing increment of 30 documents onto a 60-document base
# (test_packing_increment_job_count); 63 while the packing and index
# tables were read with schema inference, 60 while the batch's
# smallest id was a Spark aggregate instead of the manifest's
PACKING_INCREMENT_JOBS_MAX = 58


@pytest.fixture(scope="module")
def curated(spark, sf_dir, tmp_path_factory):
    from climate_data_pipelines_spark.plans.llm_curation import curate_corpus

    out = str(tmp_path_factory.mktemp("curated"))
    manifest = curate_corpus(spark, sf_dir, out, tokens_per_shard=500)
    return out, manifest


def test_manifest_matches_shard_parquet(spark, curated):
    """The manifest's per-shard doc/token counts must equal what a
    reader finds in the partitioned parquet — the sink's verification
    contract."""
    out, manifest = curated
    df = spark.read.parquet(f"{out}/shards")
    got = {
        int(r["shard"]): (int(r["docs"]), int(r["tokens"]))
        for r in df.groupBy("shard")
        .agg({"*": "count", "n_tok": "sum"})
        .withColumnRenamed("count(1)", "docs")
        .withColumnRenamed("sum(n_tok)", "tokens")
        .collect()
    }
    want = {s["shard"]: (s["docs"], s["tokens"]) for s in manifest["shards"]}
    assert got == want
    assert manifest["total_docs"] == sum(d for d, _ in got.values())
    with open(f"{out}/manifest.json") as fh:
        assert json.load(fh) == manifest


def test_shards_are_ordered_and_tokens_counted_independently(spark, curated):
    """Shard ids are strictly increasing (a document longer than the
    cap can legitimately SKIP an id — floor(excl/cap) jumps — so
    contiguity is not the contract), the doc-order → shard mapping is
    monotone non-decreasing, and the manifest's token totals equal an
    INDEPENDENT whitespace recount of the kept texts (not the sink's
    own n_tok column — r6 second-review finding: the old assertion
    compared the manifest to itself)."""
    out, manifest = curated
    ids = [s["shard"] for s in manifest["shards"]]
    assert ids == sorted(set(ids))
    rows = (
        spark.read.parquet(f"{out}/shards")
        .select("doc_id", "text", "shard")
        .collect()
    )
    by_doc = sorted((r["doc_id"], r["shard"]) for r in rows)
    shards_in_doc_order = [s for _, s in by_doc]
    assert shards_in_doc_order == sorted(shards_in_doc_order)
    recount = sum(len([t for t in (r["text"] or "").split() if t]) for r in rows)
    assert manifest["total_tokens"] == recount


def test_curated_corpus_properties(spark, sf_dir, curated):
    """Stage contracts hold on the surviving corpus: every kept doc
    passes the quality gate, no two kept docs share normalized text
    (exact dedup), no kept doc comes from the benchmark source, and no
    kept doc shares a 3-shingle with any benchmark document
    (decontamination's no-false-negative contract)."""
    import pyspark.sql.functions as F

    from climate_data_pipelines_spark.catalog import load_table
    from climate_data_pipelines_spark.operators import textops

    out, _ = curated
    kept = spark.read.parquet(f"{out}/shards")
    assert kept.filter(~textops.quality_predicate("text")).count() == 0
    n = kept.count()
    assert kept.select(F.sha2(F.col("text"), 256)).distinct().count() == n
    assert kept.filter(F.col("source") == "src0").count() == 0

    def shingles3(text):
        toks = [t for t in (text or "").split() if t]
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    bench_sh = set()
    docs = load_table(spark, sf_dir, "documents")
    for r in docs.filter(F.col("source") == "src0").select("text").collect():
        bench_sh |= shingles3(r["text"])
    leaked = [
        r["doc_id"]
        for r in kept.select("doc_id", "text").collect()
        if shingles3(r["text"]) & bench_sh
    ]
    assert leaked == [], f"contaminated docs survived: {leaked[:5]}"


def test_cli_parser_defaults():
    from climate_data_pipelines_spark.plans.llm_curation import build_parser

    args = build_parser().parse_args(
        ["--sf-dir", "/x", "--out", "/y"]
    )
    assert args.alpha == 0.5 and args.tokens_per_shard == 20_000
    assert args.benchmark_source == "src0"


def test_curate_increment_appends_clean_shards(spark, sf_dir, tmp_path_factory):
    """Day-N increment: day-0 curates the even-id half; the increment
    brings the odd-id half. Afterwards the combined shards must hold
    no duplicate content (exact OR verified near-dup across the
    halves), the increment's shard ids continue after the base's, and
    the manifest read-back covers base + increment together."""
    import json

    import pyspark.sql.functions as F

    from climate_data_pipelines_spark.catalog import load_table
    from climate_data_pipelines_spark.plans.llm_curation import (
        curate_corpus,
        curate_increment,
    )

    out = str(tmp_path_factory.mktemp("incremental"))
    # day 0: even ids only (monkey-free: curate_corpus reads the whole
    # table, so write a filtered copy next to the fixture instead)
    docs = load_table(spark, sf_dir, "documents")
    day0_dir = str(tmp_path_factory.mktemp("day0_src"))
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(
        f"{day0_dir}/documents.parquet"
    )
    base_manifest = curate_corpus(spark, day0_dir, out, tokens_per_shard=300)
    base_max = max((s["shard"] for s in base_manifest["shards"]), default=-1)

    new_docs = docs.filter(
        (F.col("doc_id") % 2 == 1) & (F.col("source") != "src0")
    )
    combined = curate_increment(spark, new_docs, out)

    allrows = spark.read.parquet(f"{out}/shards")
    n = allrows.count()
    assert n > base_manifest["total_docs"], "increment added nothing"
    # exact uniqueness across the union
    assert allrows.select(F.sha2("text", 256)).distinct().count() == n
    # manifest covers the union and matches the parquet read-back
    assert combined["total_docs"] == n
    with open(f"{out}/manifest.json") as fh:
        assert json.load(fh) == combined
    # increment shards continue the numbering
    inc_shards = {s["shard"] for s in combined["shards"]} - {
        s["shard"] for s in base_manifest["shards"]
    }
    assert inc_shards and min(inc_shards) == base_max + 1
    # no verified cross-half near-dup survives: recompute pairs over
    # the union at the pipeline's own threshold
    from climate_data_pipelines_spark.operators import dedup
    from climate_data_pipelines_spark.queries import MINHASH_BANDS, MINHASH_N

    sigs = dedup.minhash_signatures(allrows, k=3, n_hashes=MINHASH_N)
    cand = dedup.minhash_lsh_candidates(
        sigs, n_hashes=MINHASH_N, bands=MINHASH_BANDS
    )
    ver = dedup.jaccard_on_pairs(allrows, cand, k=3).filter(
        F.col("jaccard") >= 0.5
    )
    leaked = ver.count()
    assert leaked == 0, f"{leaked} near-dup pairs survive in the union"


def test_curate_increment_matches_full_rerun(spark, sf_dir, tmp_path_factory):
    """Incremental-vs-full PARITY: day-0 corpus + day-1 increment must
    equal a from-scratch ``curate_corpus`` over the combined universe,
    stated at the level where the two are defined to agree — the set
    of surviving EQUIVALENCE CLASSES (exact-digest groups linked by
    verified near-dup edges), one representative each. Doc-id choice
    inside a class is policy (full run keeps the global min id; the
    increment keeps the base member), so ids may differ while the
    corpus — which classes survive, and how many docs — must not.

    Universe design keeps the eval set FIXED across runs (real eval
    sets don't grow with the crawl): benchmark docs (source=src0) only
    exist among the even ids, so day-0, the increment, and the
    from-scratch run all decontaminate against the same frame.
    alpha=1.0 makes temperature mixing a keep-all (natural shares), so
    mixing — deliberately global-only, not re-run per increment —
    cannot contribute spurious diffs."""
    import pyspark.sql.functions as F

    from climate_data_pipelines_spark.catalog import load_table
    from climate_data_pipelines_spark.functions.text import normalize_text
    from climate_data_pipelines_spark.operators import dedup, textops
    from climate_data_pipelines_spark.plans.llm_curation import (
        curate_corpus,
        curate_increment,
    )
    from climate_data_pipelines_spark.queries import MINHASH_BANDS, MINHASH_N

    docs = load_table(spark, sf_dir, "documents")
    day0 = docs.filter(F.col("doc_id") % 2 == 0)
    day1 = docs.filter(
        (F.col("doc_id") % 2 == 1) & (F.col("source") != "src0")
    )

    day0_dir = str(tmp_path_factory.mktemp("parity_day0"))
    univ_dir = str(tmp_path_factory.mktemp("parity_univ"))
    day0.write.parquet(f"{day0_dir}/documents.parquet")
    day0.unionByName(day1).write.parquet(f"{univ_dir}/documents.parquet")

    inc_out = str(tmp_path_factory.mktemp("parity_inc"))
    full_out = str(tmp_path_factory.mktemp("parity_full"))
    curate_corpus(spark, day0_dir, inc_out, alpha=1.0, tokens_per_shard=300)
    bench = day0.filter(F.col("source") == "src0")
    curate_increment(spark, day1, inc_out, benchmark=bench)
    curate_corpus(spark, univ_dir, full_out, alpha=1.0, tokens_per_shard=300)

    inc = spark.read.parquet(f"{inc_out}/shards")
    full = spark.read.parquet(f"{full_out}/shards")
    assert inc.count() == full.count(), "survivor counts diverge"

    # equivalence classes over the combined train universe: exact-digest
    # representatives linked by verified near-dup edges at the
    # pipeline's own threshold
    train = day0.unionByName(day1).filter(F.col("source") != "src0")
    uniq = dedup.exact_dedup(
        train.filter(textops.quality_predicate("text"))
    ).localCheckpoint(eager=True)
    sigs = dedup.minhash_signatures(uniq, k=3, n_hashes=MINHASH_N)
    cand = dedup.minhash_lsh_candidates(
        sigs, n_hashes=MINHASH_N, bands=MINHASH_BANDS
    )
    ver = dedup.jaccard_on_pairs(uniq, cand, k=3).filter(
        F.col("jaccard") >= 0.5
    ).select("id_a", "id_b")
    comps = dedup.connected_components(
        ver, nodes=uniq.select("doc_id"), node_col="doc_id"
    )

    digest = F.sha2(normalize_text(F.col("text")), 256).alias("_d")
    # digest -> component (via the exact-dedup representative)
    d2c = (
        uniq.select("doc_id", digest)
        .join(comps, "doc_id")
        .select("_d", "component")
    )

    def survived_components(frame):
        return (
            frame.select(digest)
            .join(d2c, "_d")
            .select("component")
        )

    ic, fc = survived_components(inc), survived_components(full)
    assert ic.count() == ic.distinct().count(), (
        "increment kept two docs of one equivalence class"
    )
    assert fc.count() == fc.distinct().count(), (
        "full run kept two docs of one equivalence class"
    )
    diff = ic.distinct().unionByName(fc.distinct()).groupBy(
        "component"
    ).count().filter(F.col("count") != 2)
    assert diff.isEmpty(), (
        "surviving equivalence classes diverge between the increment "
        "and the from-scratch run"
    )


def test_curate_increment_parity_with_url_and_containment_stages(
    spark, sf_dir, tmp_path_factory
):
    """r9 stages end-to-end: URL dedup (stage 0) + small-in-large
    containment, on in BOTH the base run and — driven by the base
    manifest's ``stages`` record, not caller args — the increment.
    Parity contract: day-0 + day-1 increment == from-scratch run over
    the union, at the surviving-doc level, with planted URL-dups and
    planted tiny-in-host excerpts dropped by both paths.

    Universe: sf docs + a ``url`` column (messy but unique per doc).
    Planted day-1 cases: (a) 3 docs re-crawl day-0 URLs with SHORTER
    text (the base copy is the keep-best winner, so increment-drops-
    the-new == full-keeps-the-base — the append-only asymmetry's happy
    direction); (b) 3 tiny 12-token excerpts of long day-0 hosts
    (containment = 1.0, Jaccard ~ 0 — LSH-invisible)."""
    import pyspark.sql.functions as F

    from climate_data_pipelines_spark.catalog import load_table
    from climate_data_pipelines_spark.functions.text import tokens as _toks
    from climate_data_pipelines_spark.plans.llm_curation import (
        curate_corpus,
        curate_increment,
    )

    docs = load_table(spark, sf_dir, "documents")
    # messy-but-canonical-unique URL per doc (q175's convention)
    url = F.concat(
        F.lit("HTTPS://Example.COM:443/corpus/"),
        F.col("doc_id").cast("string"),
        F.lit("/?utm_source=t"),
    )
    day0 = docs.filter(F.col("doc_id") % 2 == 0).withColumn("url", url)
    day1_nat = (
        docs.filter((F.col("doc_id") % 2 == 1) & (F.col("source") != "src0"))
        .withColumn("url", url)
    )

    day0_dir = str(tmp_path_factory.mktemp("r9_day0"))
    univ_dir = str(tmp_path_factory.mktemp("r9_univ"))
    day0.write.parquet(f"{day0_dir}/documents.parquet")

    inc_out = str(tmp_path_factory.mktemp("r9_inc"))
    full_out = str(tmp_path_factory.mktemp("r9_full"))
    stage_kwargs = dict(
        alpha=1.0,
        tokens_per_shard=300,
        url_col="url",
        containment=True,
        containment_threshold=0.9,
        containment_small_max=16,
        containment_df_cap=None,  # lossless contract for parity
    )
    base_manifest = curate_corpus(spark, day0_dir, inc_out, **stage_kwargs)

    # plant against docs the base run KEPT (a host dropped by
    # quality/near-dup/decon can't drop its excerpt in either path —
    # the planted assertions would be vacuous)
    hosts = (
        spark.read.parquet(f"{inc_out}/shards")
        .filter(F.size(_toks("text")) >= 40)
        .orderBy("doc_id")
        .limit(6)
        .collect()
    )
    assert len(hosts) == 6, "fixture needs 6 long KEPT day-0 hosts"
    # planted (a): day-1 re-crawls of kept day-0 URLs, shorter text
    # (loses keep-best); short unique tokens so quality passes and
    # only the URL links them to the host
    recrawls = spark.createDataFrame(
        [
            (
                900_001 + i,
                " ".join(f"rc{i}t{j}" for j in range(12)),
                h["lang"],
                h["source"],
                12 * 7,
                # same canonical URL as the day-0 host, messier
                f"https://example.com/corpus/{h['doc_id']}?utm_source=z",
            )
            for i, h in enumerate(hosts[:3])
        ],
        "doc_id long, text string, lang string, source string, "
        "n_chars long, url string",
    )
    # planted (b): tiny excerpts (tokens 3..14) of kept hosts, own URL
    tinies = spark.createDataFrame(
        [
            (
                910_001 + i,
                " ".join(h["text"].split()[3:15]),
                h["lang"],
                h["source"],
                len(" ".join(h["text"].split()[3:15])),
                f"https://example.com/tiny/{910_001 + i}",
            )
            for i, h in enumerate(hosts[3:])
        ],
        "doc_id long, text string, lang string, source string, "
        "n_chars long, url string",
    )
    day1 = day1_nat.unionByName(recrawls).unionByName(tinies)
    day0.unionByName(day1).write.parquet(f"{univ_dir}/documents.parquet")
    # the manifest records the stage recipe
    assert base_manifest["stages"]["url_dedup"] == {"url_col": "url"}
    assert base_manifest["stages"]["containment"]["threshold"] == 0.9
    # the persisted index gained the stage tables
    assert spark.read.parquet(f"{inc_out}/dedup_index/urls").count() > 0
    assert spark.read.parquet(f"{inc_out}/dedup_index/shingle_sets").count() > 0

    bench = day0.filter(F.col("source") == "src0")
    combined = curate_increment(spark, day1, inc_out, benchmark=bench)
    curate_corpus(spark, univ_dir, full_out, **stage_kwargs)

    inc = spark.read.parquet(f"{inc_out}/shards")
    full = spark.read.parquet(f"{full_out}/shards")

    # planted drops: no recrawl or tiny-excerpt doc survives either path
    planted = {r["doc_id"] for r in recrawls.collect()} | {
        r["doc_id"] for r in tinies.collect()
    }
    for frame, label in ((inc, "increment"), (full, "full run")):
        kept = {
            r["doc_id"]
            for r in frame.filter(F.col("doc_id") >= 900_000).collect()
        }
        assert not kept, f"{label} kept planted dup/contained docs {kept}"

    # parity at the equivalence-class level (the level the two paths
    # are DEFINED to agree at — doc-id choice inside a near-dup class
    # is policy: full keeps the global min id, the increment keeps the
    # base member; see test_curate_increment_matches_full_rerun).
    # Planted recrawls/tinies have unique text, so each is its own
    # class: their classes must be absent from BOTH paths (asserted
    # above), and every other class must survive in both or neither.
    from climate_data_pipelines_spark.functions.text import normalize_text
    from climate_data_pipelines_spark.operators import dedup, textops
    from climate_data_pipelines_spark.queries import MINHASH_BANDS, MINHASH_N

    assert inc.count() == full.count(), "survivor counts diverge"
    train = day0.unionByName(day1).filter(F.col("source") != "src0")
    uniq = dedup.exact_dedup(
        train.filter(textops.quality_predicate("text"))
    ).localCheckpoint(eager=True)
    sigs = dedup.minhash_signatures(uniq, k=3, n_hashes=MINHASH_N)
    cand = dedup.minhash_lsh_candidates(
        sigs, n_hashes=MINHASH_N, bands=MINHASH_BANDS
    )
    ver = dedup.jaccard_on_pairs(uniq, cand, k=3).filter(
        F.col("jaccard") >= 0.5
    ).select("id_a", "id_b")
    comps = dedup.connected_components(
        ver, nodes=uniq.select("doc_id"), node_col="doc_id"
    )
    digest = F.sha2(normalize_text(F.col("text")), 256).alias("_d")
    d2c = (
        uniq.select("doc_id", digest)
        .join(comps, "doc_id")
        .select("_d", "component")
    )
    ic = inc.select(digest).join(d2c, "_d").select("component").distinct()
    fc = full.select(digest).join(d2c, "_d").select("component").distinct()
    diff = ic.unionByName(fc).groupBy("component").count().filter(
        F.col("count") != 2
    )
    assert diff.isEmpty(), (
        "surviving equivalence classes diverge between the increment "
        "and the from-scratch run (url+containment stages on)"
    )
    # increment rewrote the manifest with the stage recipe intact
    assert combined["stages"]["url_dedup"] == {"url_col": "url"}
    # index lockstep: urls/shingle_sets cover the whole union now
    assert (
        spark.read.parquet(f"{inc_out}/dedup_index/shingle_sets").count()
        == inc.count()
    )


def test_curate_increment_parity_with_r10_gates(spark, tmp_path_factory):
    """r10 stages end-to-end: domain-reputation gate + C4 line scrub
    + Gopher rules, on in BOTH the base run and — driven by the base
    manifest's ``stages`` record — the increment. Three planted day-1
    cases, each killable ONLY by its stage:

    (a) two GOOD fresh docs on the day-0 spam-farm domain: the farm's
        quality pass-rate over base ∪ batch is 2/10 = 0.2 < 0.25, so
        the MERGED profile flags it — a batch-only profile (rate 1.0)
        would keep them, so this pins the persisted-domain_stats fold;
    (b) a C4 twin: identical to a kept day-0 doc after the line scrub
        (only its planted 'lorem ipsum'/javascript junk lines differ)
        — exact dedup must catch it POST-scrub via the base digests;
    (c) Gopher bait: alternating two-token spam that PASSES the
        plain quality predicate (distinct ratio 0.2) but fails the
        dup-bigram ceiling.
    Everything else is unique, so survivor parity holds at the doc-id
    level between day0+increment and the from-scratch union run."""
    import pyspark.sql.functions as F

    from climate_data_pipelines_spark.plans.llm_curation import (
        curate_corpus,
        curate_increment,
    )

    def lines_doc(i, n_lines=4):
        return "\n".join(
            f"w{i}a{j} w{i}b{j} w{i}c{j} w{i}d{j} w{i}e{j}."
            for j in range(n_lines)
        )

    spam_line = " ".join(["spam"] * 29) + " spam."  # distinct 2/30 < 0.1
    farm_doc = "\n".join([spam_line] * 3)
    gopher_bait = "\n".join(["alpha beta alpha beta alpha."] * 3)

    def rows(ids, mk_text, host):
        return [
            (
                i,
                mk_text(i),
                "en",
                "srcA",
                len(mk_text(i)),
                f"https://{host}/p/{i}",
            )
            for i in ids
        ]

    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long, url string"
    )
    day0_rows = (
        rows(range(100, 120), lines_doc, "good.example.org")
        + rows(range(200, 208), lambda _i: farm_doc, "farm.example.net")
    )
    d0_clean = lines_doc(100)
    c4_twin = (
        "lorem ipsum dolor sit amet boilerplate\n"
        + d0_clean
        + "\nfunction x() { junk }"
    )
    day1_rows = (
        rows(range(300, 310), lines_doc, "good.example.org")
        + rows(range(400, 402), lines_doc, "farm.example.net")   # (a)
        + rows([500], lambda _i: c4_twin, "good.example.org")    # (b)
        + rows([600], lambda _i: gopher_bait, "good.example.org")  # (c)
    )
    day0 = spark.createDataFrame(day0_rows, schema)
    day1 = spark.createDataFrame(day1_rows, schema)

    day0_dir = str(tmp_path_factory.mktemp("r10_day0"))
    univ_dir = str(tmp_path_factory.mktemp("r10_univ"))
    inc_out = str(tmp_path_factory.mktemp("r10_inc"))
    full_out = str(tmp_path_factory.mktemp("r10_full"))
    day0.write.parquet(f"{day0_dir}/documents.parquet")
    day0.unionByName(day1).write.parquet(f"{univ_dir}/documents.parquet")

    kwargs = dict(
        alpha=1.0,
        tokens_per_shard=300,
        url_col="url",
        domain_gate=True,
        c4=True,
        gopher=True,
    )
    base_manifest = curate_corpus(spark, day0_dir, inc_out, **kwargs)
    assert base_manifest["stages"]["domain_gate"]["url_col"] == "url"
    assert base_manifest["stages"]["c4"]["min_kept_lines"] == 3
    assert base_manifest["stages"]["gopher"] is True
    assert spark.read.parquet(f"{inc_out}/dedup_index/domain_stats").count() > 0
    base_ids = {
        r["doc_id"] for r in spark.read.parquet(f"{inc_out}/shards").collect()
    }
    assert base_ids == set(range(100, 120)), (
        "base run must keep exactly the good day-0 docs "
        f"(farm gated): {sorted(base_ids)}"
    )

    combined = curate_increment(spark, day1, inc_out)
    curate_corpus(spark, univ_dir, full_out, **kwargs)

    inc_ids = {
        r["doc_id"] for r in spark.read.parquet(f"{inc_out}/shards").collect()
    }
    full_ids = {
        r["doc_id"] for r in spark.read.parquet(f"{full_out}/shards").collect()
    }
    # planted kills, both paths
    for ids, label in ((inc_ids, "increment"), (full_ids, "full run")):
        assert not ids & {400, 401}, f"{label} kept farm-domain docs (a)"
        assert 500 not in ids, f"{label} kept the post-scrub C4 twin (b)"
        assert 600 not in ids, f"{label} kept the Gopher bait (c)"
    # doc-id-level parity (all survivors unique text — no class policy)
    assert inc_ids == full_ids, (
        f"survivors diverge: inc-only={sorted(inc_ids - full_ids)} "
        f"full-only={sorted(full_ids - inc_ids)}"
    )
    # the C4 scrub actually ran: kept text is the cleaned form
    kept100 = (
        spark.read.parquet(f"{inc_out}/shards")
        .filter(F.col("doc_id") == 100)
        .first()["text"]
    )
    assert kept100 == d0_clean
    # increment re-recorded the recipe; stats table covers base+batch
    assert combined["stages"]["gopher"] is True
    stats = spark.read.parquet(f"{inc_out}/dedup_index/domain_stats")
    assert stats.filter(F.col("domain") == "farm.example.net").count() >= 2


def test_dedup_index_lockstep_and_self_heal(spark, sf_dir, tmp_path_factory):
    """The persisted dedup index (digests + MinHash signatures of the
    kept corpus) must (a) be written by curate_corpus, (b) be kept in
    lockstep by every increment's append, and (c) self-heal when
    missing or stale — a pre-index base dir, or a crash between the
    shard append and the index append, must be detected by row count
    and rebuilt, never silently trusted."""
    import shutil

    import pyspark.sql.functions as F

    from climate_data_pipelines_spark.catalog import load_table
    from climate_data_pipelines_spark.functions.text import normalize_text
    from climate_data_pipelines_spark.operators import dedup
    from climate_data_pipelines_spark.plans.llm_curation import (
        curate_corpus,
        curate_increment,
    )
    from climate_data_pipelines_spark.queries import MINHASH_N

    docs = load_table(spark, sf_dir, "documents")
    day0_dir = str(tmp_path_factory.mktemp("idx_day0_src"))
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(
        f"{day0_dir}/documents.parquet"
    )
    out = str(tmp_path_factory.mktemp("idx_curated"))
    curate_corpus(spark, day0_dir, out, tokens_per_shard=300)

    def index_in_lockstep():
        shards = spark.read.parquet(f"{out}/shards")
        dig = spark.read.parquet(f"{out}/dedup_index/digests")
        sig = spark.read.parquet(f"{out}/dedup_index/signatures")
        assert dig.count() == shards.count()
        # every digest is the exact-dedup key of its shard row
        want = shards.select(
            "doc_id", F.sha2(normalize_text(F.col("text")), 256).alias("digest")
        )
        assert dig.exceptAll(want).isEmpty() and want.exceptAll(dig).isEmpty()
        # signatures cover exactly the docs wide enough to shingle
        assert sig.join(dig, "doc_id", "left_anti").isEmpty()
        # the persisted signatures (taken from the run's MinHash frame,
        # or re-hashed on a rebuild) equal a re-hash of the landed text
        want_sig = dedup.minhash_signatures(
            shards.select("doc_id", "text"), k=3, n_hashes=MINHASH_N
        )
        assert sig.exceptAll(want_sig).isEmpty()
        assert want_sig.exceptAll(sig).isEmpty()

    index_in_lockstep()

    # (c) self-heal: blow the index away, the increment rebuilds it
    shutil.rmtree(f"{out}/dedup_index")
    inc1 = docs.filter(
        (F.col("doc_id") % 2 == 1) & (F.col("source") != "src0")
    )
    curate_increment(spark, inc1, out)
    index_in_lockstep()

    # (b) lockstep after a second, index-present increment with fresh
    # content (reversed word soup = new shingles, ids namespaced)
    inc2 = docs.filter(F.col("source") == "src1").select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.reverse(F.col("text")).alias("text"),
        *[c for c in docs.columns if c not in ("doc_id", "text")],
    )
    before = spark.read.parquet(f"{out}/shards").count()
    manifest = curate_increment(spark, inc2, out)
    assert manifest["total_docs"] > before, "second increment added nothing"
    index_in_lockstep()

    # stale-index detection: drop half the digest rows on disk, then a
    # further (empty-after-dedup) increment must rebuild to lockstep
    dig = spark.read.parquet(f"{out}/dedup_index/digests")
    half = dig.limit(max(1, dig.count() // 2)).localCheckpoint(eager=True)
    half.write.mode("overwrite").parquet(f"{out}/dedup_index/digests")
    rerun = docs.filter(F.col("source") == "src2").select(
        (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
        F.reverse(F.col("text")).alias("text"),
        *[c for c in docs.columns if c not in ("doc_id", "text")],
    )
    curate_increment(spark, rerun, out)
    index_in_lockstep()


def test_curate_corpus_no_survivor_raises_clear_error(spark, tmp_path):
    """Every training document shares a 3-shingle with the benchmark
    document, so decontamination drops them all: curate_corpus must
    say no document survived, not die at the shard read-back with a
    schema-inference error."""
    from climate_data_pipelines_spark.plans.llm_curation import curate_corpus

    bench = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(0, bench, "en", "src0", len(bench))]
    for i in range(1, 6):
        text = "alpha beta gamma " + " ".join(f"w{i}x{j}" for j in range(12))
        rows.append((i, text, "en", "src1", len(text)))
    src = tmp_path / "src"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(src / "documents.parquet"))
    with pytest.raises(ValueError, match="no documents survived"):
        curate_corpus(spark, str(src), str(tmp_path / "out"))


def test_repeat_curate_corpus_reuses_generated_code(spark, sf_dir, tmp_path):
    """The session's generated-code cache holds a whole curation run:
    a second identical curate_corpus compiles (almost) no new classes.
    With Spark's 100-entry default it recompiled ~165."""
    from climate_data_pipelines_spark.plans.llm_curation import curate_corpus

    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = codegen.METRIC_COMPILATION_TIME()  # one count per class
    curate_corpus(spark, sf_dir, str(tmp_path / "a"), tokens_per_shard=500)
    before = compiled.getCount()
    curate_corpus(spark, sf_dir, str(tmp_path / "b"), tokens_per_shard=500)
    assert compiled.getCount() - before <= 10


def test_cluster_mix_stage_unusable_embeddings_keep(spark):
    """ADVICE r12 (medium): a doc whose embedding row EXISTS but is
    null / empty-array / wrong-dim must pass the stage unconditionally
    — the kmeans kernel silently excludes those vectors, so without
    the usable-evidence pre-filter they could never appear in `kept`
    and would land in the drop set, violating the keep-on-missing-
    evidence rule. Also: a corpus with NO usable embeddings at all is
    a stage no-op, not a kmeans ValueError."""
    import numpy as np
    import pyspark.sql.functions as F  # noqa: F401

    from climate_data_pipelines_spark.plans.llm_curation import (
        cluster_mix_stage,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(40)]
        + [
            (100, "null emb row"),
            (101, "empty emb row"),
            (102, "ragged emb row"),
            (103, "no emb row at all"),
        ],
        "doc_id long, text string",
    )
    rng = np.random.default_rng(3)
    pts = np.concatenate(
        [
            np.array([5.0, 0.0]) + 0.1 * rng.standard_normal((36, 2)),
            np.array([-5.0, 0.0]) + 0.1 * rng.standard_normal((4, 2)),
        ]
    )
    rows = [(int(i), [float(x) for x in p]) for i, p in enumerate(pts)]
    rows += [(100, None), (101, []), (102, [1.0, 2.0, 3.0])]
    emb = spark.createDataFrame(rows, "doc_id long, embedding array<float>")

    out = cluster_mix_stage(docs, emb, k=2, iters=4, per_cluster_cap=10)
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    # unusable-evidence and missing-row docs all kept
    assert {100, 101, 102, 103} <= kept
    # the stage actually ran: dominant mode capped, rare mode intact
    assert len(kept & set(range(36))) == 10
    assert set(range(36, 40)) <= kept

    # no usable embeddings anywhere → no-op passthrough
    emb2 = spark.createDataFrame(
        [(100, None), (101, [])], "doc_id long, embedding array<float>"
    )
    out2 = cluster_mix_stage(docs, emb2, k=2, iters=2)
    assert out2.count() == docs.count()


def test_cluster_mix_stage_rebalances_boilerplate_mode(
    spark, tmp_path_factory
):
    """r12 stage e2e: a corpus where one semantic MODE dominates (80
    boilerplate-embedding docs vs 8 rare-mode docs — every text unique
    and quality-passing, so no textual gate touches them) must come
    out of ``curate_corpus(cluster_mix_embeddings=...)`` rebalanced:
    the dominant cluster cut to the cap, the rare mode intact, docs
    WITHOUT an embedding kept unconditionally, the stage recorded in
    the manifest as global_only — and a day-1 increment must carry the
    stage key through untouched (global-only contract) without
    re-running it."""
    import numpy as np
    import pyspark.sql.functions as F

    from climate_data_pipelines_spark.plans.llm_curation import (
        curate_corpus,
        curate_increment,
    )

    def lines_doc(i, n_lines=4):
        return "\n".join(
            f"w{i}a{j} w{i}b{j} w{i}c{j} w{i}d{j} w{i}e{j}."
            for j in range(n_lines)
        )

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    docs = spark.createDataFrame(
        [(i, lines_doc(i), "en", "srcA", 80) for i in range(88)]
        + [(i, lines_doc(i), "en", "srcA", 80) for i in (900, 901, 902)],
        schema,
    )
    rng = np.random.default_rng(11)
    dom = np.array([10.0, 0.0]) + 0.1 * rng.standard_normal((80, 2))
    rare = np.array([-10.0, 0.0]) + 0.1 * rng.standard_normal((8, 2))
    pts = np.concatenate([dom, rare])
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in p]) for i, p in enumerate(pts)],
        "doc_id long, embedding array<float>",
    )

    day0_dir = str(tmp_path_factory.mktemp("cmix_day0"))
    out = str(tmp_path_factory.mktemp("cmix_out"))
    docs.write.parquet(f"{day0_dir}/documents.parquet")
    manifest = curate_corpus(
        spark,
        day0_dir,
        out,
        alpha=1.0,
        tokens_per_shard=300,
        cluster_mix_embeddings=emb,
        cluster_k=2,
        cluster_iters=4,
        cluster_cap=20,
    )
    st = manifest["stages"]["cluster_mix"]
    assert st["k"] == 2 and st["per_cluster_cap"] == 20
    assert st["global_only"] is True

    kept = {
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/shards").select("doc_id").collect()
    }
    # dominant mode capped at 20, rare mode intact, no-embedding docs kept
    assert len(kept & set(range(80))) == 20
    assert set(range(80, 88)) <= kept
    assert {900, 901, 902} <= kept

    # increment: new unique docs, NO re-clustering (global-only) — the
    # batch survives untouched by the stage and the re-written
    # manifest still carries the stage record for the next full run
    day1 = spark.createDataFrame(
        [(i, lines_doc(i), "en", "srcA", 80) for i in range(2000, 2010)],
        schema,
    )
    combined = curate_increment(spark, day1, out)
    assert combined["stages"]["cluster_mix"]["global_only"] is True
    kept2 = {
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/shards").select("doc_id").collect()
    }
    assert set(range(2000, 2010)) <= kept2
    assert kept <= kept2


_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _lines_doc(i, n_lines=3):
    return "\n".join(
        f"w{i}a{j} w{i}b{j} w{i}c{j} w{i}d{j} w{i}e{j}."
        for j in range(n_lines)
    )


def test_packing_stage_increment_continues_stream(
    spark, tmp_path_factory
):
    """r13 packing composition e2e: ``curate_corpus(pack_ctx_len=...)``
    emits pieces + sequence manifest next to the shards and records
    the packing block; ``curate_increment`` CONTINUES the token
    stream — the appended batch pieces must equal a full repack of
    the combined corpus restricted to batch docs (the append-only
    contract at pipeline level), the authoritative sequence rows must
    tile exactly, and a corrupted (crash-stale) packing block must
    trigger the self-heal full repack on the next increment."""
    import pyspark.sql.functions as F

    from climate_data_pipelines_spark.operators import training
    from climate_data_pipelines_spark.plans.llm_curation import (
        curate_corpus,
        curate_increment,
        read_sequence_manifest,
    )

    docs = spark.createDataFrame(
        [(i, _lines_doc(i), "en", "srcA", 60) for i in range(60)], _DOC_SCHEMA
    )
    day0_dir = str(tmp_path_factory.mktemp("pack_day0"))
    out = str(tmp_path_factory.mktemp("pack_out"))
    docs.write.parquet(f"{day0_dir}/documents.parquet")
    CTX = 64
    manifest = curate_corpus(
        spark, day0_dir, out, alpha=1.0, tokens_per_shard=300,
        pack_ctx_len=CTX,
    )
    blk = manifest["packing"]
    assert blk["ctx_len"] == CTX
    # packing counts the same whitespace tokens as the shard manifest
    assert blk["total_tokens"] == manifest["total_tokens"]
    assert blk["n_sequences"] == -(-blk["total_tokens"] // CTX)
    assert manifest["stages"]["packing"] == {"ctx_len": CTX}

    def landed():
        return spark.read.parquet(f"{out}/shards").select("doc_id", "text")

    def pieces():
        return spark.read.parquet(f"{out}/packing/pieces")

    def rowset(df):
        return {tuple(r) for r in df.select(
            "doc_id", "seq", "doc_offset", "seq_offset", "n_tok_piece"
        ).collect()}

    # day-0 pieces == a direct pack of what landed
    assert rowset(pieces()) == rowset(
        training.pack_contexts(landed(), ctx_len=CTX)
    )

    # day-1 increment: fresh unique docs with ids after the base
    day1 = spark.createDataFrame(
        [(i, _lines_doc(i), "en", "srcA", 60) for i in range(1000, 1030)],
        _DOC_SCHEMA,
    )
    combined = curate_increment(spark, day1, out)
    blk1 = combined["packing"]
    assert blk1["total_tokens"] == combined["total_tokens"]
    assert blk1["total_tokens"] > blk["total_tokens"]
    assert blk1["n_pieces"] > blk["n_pieces"]

    # the appended pieces (batch ids) == full repack of the combined
    # corpus restricted to batch docs — the pipeline-level append-only
    # parity contract
    full_repack = training.pack_contexts(landed(), ctx_len=CTX)
    batch_ids = F.col("doc_id") >= 1000
    assert rowset(pieces().filter(batch_ids)) == rowset(
        full_repack.filter(batch_ids)
    )
    # base pieces untouched (never recut)
    assert rowset(pieces().filter(~batch_ids)) == rowset(
        full_repack.filter(~batch_ids)
    )

    # authoritative sequence rows (latest-wins) tile exactly: every
    # sequence except the tail carries ctx_len tokens, no seq repeats
    seqs = read_sequence_manifest(spark, out).collect()
    assert len(seqs) == blk1["n_sequences"]
    assert len({r["seq"] for r in seqs}) == len(seqs)
    fills = {r["seq"]: r["seq_tokens"] for r in seqs}
    tail = max(fills)
    for s, t in fills.items():
        assert t == (CTX if s != tail else blk1["total_tokens"] - CTX * tail)

    # self-heal: corrupt the recorded total (the crash-window stale
    # signature), run another increment — the probe must detect the
    # mismatch and full-repack instead of continuing from a lie
    import json as _json

    with open(f"{out}/manifest.json") as fh:
        m = _json.load(fh)
    m["packing"]["total_tokens"] += 7
    with open(f"{out}/manifest.json", "w") as fh:
        _json.dump(m, fh)
    day2 = spark.createDataFrame(
        [(i, _lines_doc(i), "en", "srcA", 60) for i in range(2000, 2010)],
        _DOC_SCHEMA,
    )
    combined2 = curate_increment(spark, day2, out)
    blk2 = combined2["packing"]
    assert blk2["total_tokens"] == combined2["total_tokens"]
    assert rowset(pieces()) == rowset(
        training.pack_contexts(landed(), ctx_len=CTX)
    )
    seqs2 = read_sequence_manifest(spark, out)
    assert seqs2.count() == blk2["n_sequences"]

    # re-curation WITHOUT packing scrubs the stale packing tables —
    # a reader must never load boundaries for a corpus that's gone
    import os

    manifest3 = curate_corpus(
        spark, day0_dir, out, alpha=1.0, tokens_per_shard=300
    )
    assert not os.path.exists(f"{out}/packing")
    assert "packing" not in manifest3
    assert manifest3["stages"]["packing"] is None


@pytest.fixture(scope="module")
def even_base(spark, sf_dir, tmp_path_factory):
    """A base curated from the fixture's even ids, and the number of
    Spark jobs that curate_corpus run launched."""
    import pyspark.sql.functions as F

    from climate_data_pipelines_spark.catalog import load_table
    from climate_data_pipelines_spark.plans.llm_curation import curate_corpus

    src = str(tmp_path_factory.mktemp("even_src"))
    load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0).write.parquet(
        f"{src}/documents.parquet"
    )
    out = str(tmp_path_factory.mktemp("even_base"))
    jobs = _jobs_of(spark, "even-base", lambda: curate_corpus(spark, src, out, tokens_per_shard=300))
    return out, jobs


def _jobs_of(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(list(sc.statusTracker().getJobIdsForGroup(group)))


def _copy_base(even_base, tmp_path):
    import shutil

    out = str(tmp_path / "base")
    shutil.copytree(even_base[0], out)
    return out


def _odd_batch(spark, sf_dir, id_shift=0):
    import pyspark.sql.functions as F

    from climate_data_pipelines_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    return docs.filter((F.col("doc_id") % 2 == 1) & (F.col("source") != "src0")).withColumn(
        "doc_id", F.col("doc_id") + id_shift
    )


def _snapshot(out):
    """Every file under ``out`` with its size and modification time."""
    import os

    return {
        os.path.join(r, f): (os.path.getsize(os.path.join(r, f)), os.path.getmtime(os.path.join(r, f)))
        for r, _, fs in os.walk(out)
        for f in fs
    }


def _manifest_from_read_back(spark, out):
    import pyspark.sql.functions as F

    back = spark.read.parquet(f"{out}/shards")
    rows = back.groupBy("shard").agg(F.count("*").alias("d"), F.sum("n_tok").alias("t")).collect()
    shards = sorted((int(r["shard"]), int(r["d"]), int(r["t"])) for r in rows)
    lo, hi = back.agg(F.min("doc_id"), F.max("doc_id")).first()
    return shards, lo, hi


def _manifest_rows(manifest):
    return (
        [(s["shard"], s["docs"], s["tokens"]) for s in manifest["shards"]],
        manifest["min_doc_id"],
        manifest["max_doc_id"],
    )


def test_curate_job_counts_bounded(spark, sf_dir, even_base, tmp_path):
    """Job-count regression: a full run and an increment launch Spark
    jobs only for their own work, not to re-learn what the base
    records (49 and 78 here while the increment re-read them)."""
    import shutil

    import pyspark.sql.functions as F

    from climate_data_pipelines_spark.catalog import load_table
    from climate_data_pipelines_spark.plans.llm_curation import curate_increment

    out = _copy_base(even_base, tmp_path)
    batch = _odd_batch(spark, sf_dir)
    inc_jobs = _jobs_of(spark, "increment", lambda: curate_increment(spark, batch, out))
    assert even_base[1] <= CORPUS_JOBS_MAX
    assert inc_jobs <= INCREMENT_JOBS_MAX

    out = str(tmp_path / "decon")
    shutil.copytree(even_base[0], out)
    bench = load_table(spark, sf_dir, "documents").filter(F.col("source") == "src0")
    decon_jobs = _jobs_of(
        spark, "decon-increment", lambda: curate_increment(spark, batch, out, benchmark=bench)
    )
    assert decon_jobs <= DECON_INCREMENT_JOBS_MAX


def test_packing_increment_job_count(spark, tmp_path):
    """The packing continuation reads the tables the engine wrote with
    the schema their footers record: no schema-inference jobs."""
    from climate_data_pipelines_spark.plans.llm_curation import (
        curate_corpus,
        curate_increment,
    )

    def docs(ids):
        return spark.createDataFrame([(i, _lines_doc(i), "en", "srcA", 60) for i in ids], _DOC_SCHEMA)

    day0, out = str(tmp_path / "day0"), str(tmp_path / "out")
    docs(range(60)).write.parquet(f"{day0}/documents.parquet")
    curate_corpus(spark, day0, out, alpha=1.0, tokens_per_shard=300, pack_ctx_len=64)
    batch = docs(range(1000, 1030))
    jobs = _jobs_of(spark, "packing-increment", lambda: curate_increment(spark, batch, out))
    with open(f"{out}/manifest.json") as fh:
        manifest = json.load(fh)
    assert manifest["packing"]["total_tokens"] == manifest["total_tokens"]
    assert jobs <= PACKING_INCREMENT_JOBS_MAX


def test_increment_id_clash_raises_before_any_write(spark, sf_dir, even_base, tmp_path):
    """A batch that reuses base ids raises ValueError and leaves the
    shards, the manifest and the dedup index as they were."""
    from climate_data_pipelines_spark.plans.llm_curation import curate_increment

    out = _copy_base(even_base, tmp_path)
    before = _snapshot(out)
    with open(f"{out}/manifest.json") as fh:
        manifest = fh.read()
    # odd ids shifted down by one are the even ids the base kept
    with pytest.raises(ValueError, match="globally unique doc_ids"):
        curate_increment(spark, _odd_batch(spark, sf_dir, id_shift=-1), out)
    assert _snapshot(out) == before
    with open(f"{out}/manifest.json") as fh:
        assert fh.read() == manifest


def test_increment_overlapping_id_ranges_with_distinct_ids_pass(
    spark, sf_dir, even_base, tmp_path
):
    """Odd batch ids interleave with the even base ids: the ranges
    overlap, the semi-join finds no clash, and the manifest's id range
    and rows equal a read-back of the combined shards."""
    from climate_data_pipelines_spark.plans.llm_curation import curate_increment

    out = _copy_base(even_base, tmp_path)
    with open(f"{out}/manifest.json") as fh:
        base = json.load(fh)
    manifest = curate_increment(spark, _odd_batch(spark, sf_dir), out)
    assert base["min_doc_id"] < manifest["max_doc_id"]
    assert manifest["total_docs"] > base["total_docs"]
    assert _manifest_rows(manifest) == _manifest_from_read_back(spark, out)


def _scan_rows(df):
    """Rows the parquet scan under ``df.select("doc_id")`` returns: the
    rows of the row groups its min/max statistics did not skip."""
    q = df.select("doc_id")
    q.collect()
    leaves = q._jdf.queryExecution().executedPlan().collectLeaves()
    assert leaves.size() == 1
    return leaves.apply(0).metrics().apply("numOutputRows").value()


def test_increment_clash_check_reads_only_base_shards_in_the_batch_range(
    spark, sf_dir, even_base, tmp_path, monkeypatch
):
    """Odd batch ids inside the first base shard's id range: the clash
    semi-join reads the base ids filtered to the batch's observed
    range, so parquet statistics skip the other shards and the base
    scan returns that shard's rows only; a batch whose ids span the
    whole base range reads every base row."""
    import shutil

    import pyspark.sql.functions as F

    from climate_data_pipelines_spark.plans import llm_curation

    scanned = []
    clash = llm_curation._raise_on_id_clash

    def spy(batch, base_ids):
        scanned.append(_scan_rows(base_ids))
        clash(batch, base_ids)

    monkeypatch.setattr(llm_curation, "_raise_on_id_clash", spy)
    out = _copy_base(even_base, tmp_path)
    with open(f"{out}/manifest.json") as fh:
        total = json.load(fh)["total_docs"]
    lo, hi, n = (
        spark.read.parquet(f"{out}/shards")
        .filter(F.col("shard") == 0)
        .agg(F.min("doc_id"), F.max("doc_id"), F.count("*"))
        .first()
    )
    assert n < total
    batch = _odd_batch(spark, sf_dir).filter(F.col("doc_id").between(lo, hi))
    llm_curation.curate_increment(spark, batch, out)
    assert scanned == [n]

    out = str(tmp_path / "whole")
    shutil.copytree(even_base[0], out)
    llm_curation.curate_increment(spark, _odd_batch(spark, sf_dir), out)
    assert scanned == [n, total]


def test_increment_without_manifest_id_range_falls_back_to_semi_join(
    spark, sf_dir, even_base, tmp_path
):
    """A manifest written before the id range was recorded: a clashing
    batch still raises (the up-front semi-join), a clean one passes and
    the manifest gains the range from a full read-back."""
    from climate_data_pipelines_spark.plans.llm_curation import curate_increment

    out = _copy_base(even_base, tmp_path)
    with open(f"{out}/manifest.json") as fh:
        old = json.load(fh)
    del old["min_doc_id"], old["max_doc_id"]
    with open(f"{out}/manifest.json", "w") as fh:
        json.dump(old, fh)
    before = _snapshot(out)
    with pytest.raises(ValueError, match="globally unique doc_ids"):
        curate_increment(spark, _odd_batch(spark, sf_dir, id_shift=-1), out)
    assert _snapshot(out) == before
    manifest = curate_increment(spark, _odd_batch(spark, sf_dir), out)
    assert _manifest_rows(manifest) == _manifest_from_read_back(spark, out)


def test_increment_self_heals_after_manifest_crash(spark, sf_dir, even_base, tmp_path):
    """A crash between the shard append and the manifest rewrite leaves
    shard directories the manifest does not list. The next increment
    must not trust the manifest's counts: it rebuilds the dedup index
    (overwriting its files) and re-derives the manifest from a full
    read-back."""
    import os

    import pyspark.sql.functions as F

    from climate_data_pipelines_spark.catalog import load_table
    from climate_data_pipelines_spark.functions.text import normalize_text
    from climate_data_pipelines_spark.operators import dedup
    from climate_data_pipelines_spark.plans.llm_curation import curate_increment
    from climate_data_pipelines_spark.queries import MINHASH_N

    out = _copy_base(even_base, tmp_path)
    with open(f"{out}/manifest.json") as fh:
        pre_append = fh.read()
    curate_increment(spark, _odd_batch(spark, sf_dir), out)
    with open(f"{out}/manifest.json", "w") as fh:
        fh.write(pre_append)
    def digest_files():
        return {f for f in os.listdir(f"{out}/dedup_index/digests") if f.startswith("part-")}

    before = digest_files()

    docs = load_table(spark, sf_dir, "documents")
    fresh = docs.filter(F.col("source") == "src1").select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.reverse(F.col("text")).alias("text"),
        *[c for c in docs.columns if c not in ("doc_id", "text")],
    )
    manifest = curate_increment(spark, fresh, out)
    # rebuilt: the digest table was overwritten, not appended to
    assert not before & digest_files()
    assert _manifest_rows(manifest) == _manifest_from_read_back(spark, out)
    with open(f"{out}/manifest.json") as fh:
        assert json.load(fh) == manifest

    shards = spark.read.parquet(f"{out}/shards")
    dig = spark.read.parquet(f"{out}/dedup_index/digests")
    sig = spark.read.parquet(f"{out}/dedup_index/signatures")
    want = shards.select(
        "doc_id", F.sha2(normalize_text(F.col("text")), 256).alias("digest")
    )
    assert dig.exceptAll(want).isEmpty() and want.exceptAll(dig).isEmpty()
    want_sig = dedup.minhash_signatures(shards.select("doc_id", "text"), k=3, n_hashes=MINHASH_N)
    assert sig.exceptAll(want_sig).isEmpty() and want_sig.exceptAll(sig).isEmpty()


def test_increment_clash_on_a_gate_dropped_doc_raises_on_every_path(
    spark, sf_dir, even_base, tmp_path
):
    """Every batch id is checked, also that of a document the quality
    gate drops, with and without a recorded base id range. The clean
    documents' ids lie past the base range, so only the reused id makes
    the ranges overlap."""
    import pyspark.sql.functions as F

    from climate_data_pipelines_spark.plans.llm_curation import curate_increment

    out = _copy_base(even_base, tmp_path)
    with open(f"{out}/manifest.json") as fh:
        manifest = json.load(fh)
    clean = _odd_batch(spark, sf_dir, id_shift=1_000_000)
    reused = clean.limit(1).withColumn("doc_id", F.lit(manifest["min_doc_id"]).cast("bigint"))
    batch = clean.unionByName(reused.withColumn("text", F.lit("too short")))
    before = _snapshot(out)
    with pytest.raises(ValueError, match="globally unique doc_ids"):
        curate_increment(spark, batch, out)
    assert _snapshot(out) == before

    del manifest["min_doc_id"], manifest["max_doc_id"]
    with open(f"{out}/manifest.json", "w") as fh:
        json.dump(manifest, fh)
    with pytest.raises(ValueError, match="globally unique doc_ids"):
        curate_increment(spark, batch, out)


def test_increment_whose_batch_the_gate_empties_keeps_the_manifest(
    spark, sf_dir, even_base, tmp_path
):
    """A batch the quality gate drops entirely, with ids interleaving
    the base range: the clash check still runs and passes, and the
    manifest keeps the base's rows and id range."""
    import pyspark.sql.functions as F

    from climate_data_pipelines_spark.plans.llm_curation import curate_increment

    out = _copy_base(even_base, tmp_path)
    with open(f"{out}/manifest.json") as fh:
        base = json.load(fh)
    batch = _odd_batch(spark, sf_dir).withColumn("text", F.lit("too short"))
    manifest = curate_increment(spark, batch, out)
    assert _manifest_rows(manifest) == _manifest_rows(base)
    assert _manifest_rows(manifest) == _manifest_from_read_back(spark, out)
