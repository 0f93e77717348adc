"""Text primitives for the LLM-data-pipeline surface (SURVEY.md §2.11).

Tokenization / normalization / shingling as pure Column expressions —
the building blocks for dedup, language ID, quality scoring, and
fingerprinting. JVM-side only; the hot path never leaves codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Whitespace tokenizer: the fixture `documents.text` is space-separated
# word soup (FIXTURES.md), so split-on-space is exact. `regex_tokens`
# below is the BPE-ish fallback for messier corpora.
TOKEN_SPLIT_RE = r"\s+"
WORD_RE = r"[a-zA-Z0-9]+"


def tokens(text: Column | str) -> Column:
    """Whitespace tokens, empty strings dropped."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, TOKEN_SPLIT_RE), lambda t: t != "")


def regex_tokens(text: Column | str, pattern: str = WORD_RE) -> Column:
    """Regex word tokens (BPE-ish pre-tokenization pass)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(pattern), F.lit(0))


def normalize_text(text: Column | str) -> Column:
    """Canonical form for hashing/dedup: lowercase, collapse runs of
    whitespace, trim. Mirrors what exact-dedup pipelines hash."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def shingles(text: Column | str, k: int = 3) -> Column:
    """k-token shingles (n-grams of the whitespace tokens) as an
    array<string> — the MinHash/Jaccard unit (SURVEY.md §2.11).

    Expression-level, no UDF. Built by zipping k shifted copies of the
    token array (``zip_with(slice(toks,1,m), slice(toks,2,m), …)``)
    rather than ``transform(sequence(…), i -> slice(toks, i, k))``:
    Catalyst's projection collapse re-inlines the token-split
    subexpression at every reference, so the transform form
    re-tokenizes the document once per shingle *position* (O(n²) per
    doc), while the shifted-zip form references it k+1 times (O(k·n))
    — ~10× faster on real documents.
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens(c)
    n = F.size(toks)
    m = n - k + 1  # shingle count when n >= k
    combined = F.slice(toks, 1, m)
    for j in range(1, k):
        combined = F.zip_with(
            combined,
            F.slice(toks, j + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    # null text has no shingles under every session config: with ANSI
    # off, size(NULL) is -1 and would take the short-document branch
    short = F.when(c.isNotNull(), F.array(F.concat_ws(" ", toks)))
    return F.when(n < k, short).otherwise(combined)


def normalize_url(url: Column | str) -> Column:
    """Canonical URL for crawl dedup (the URL-level dedup key every
    web-scale pipeline applies before content dedup — the reference's
    HTTP fetch step at `pipelines/precipitation_pipeline.py` trusts
    its two fixed URLs, so this generalizes that ingest surface to
    crawled corpora):

    - scheme and host lowercased (path/query case is significant)
    - leading ``www.`` and default ports ``:80``/``:443`` stripped
    - fragment dropped (client-side only, never a distinct resource)
    - tracking params dropped (``utm_*``, ``fbclid``, ``gclid``,
      ``ref``), remaining params sorted for order-insensitivity
    - trailing slashes collapsed (empty path → ``/``)

    Pure Column expressions — stays inside whole-stage codegen, so a
    100 TB URL column normalizes at scan speed with no Python step.
    """
    c = F.col(url) if isinstance(url, str) else url
    no_frag = F.regexp_replace(F.trim(c), r"#.*$", "")
    scheme = F.lower(
        F.regexp_extract(no_frag, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    )
    after = F.regexp_replace(no_frag, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    # userinfo ('user@host') is credentials, never part of the dedup
    # key; only the SCHEME'S OWN default port folds away (http://h:443
    # is a distinct origin from http://h — RFC 3986 §6.2.3).
    hostport = F.lower(
        F.regexp_replace(
            F.regexp_extract(after, r"^([^/?]+)", 1), r"^[^@]*@", ""
        )
    )
    host = F.regexp_replace(
        F.when(scheme == "http", F.regexp_replace(hostport, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, r":443$", ""))
        .otherwise(hostport),
        r"^www\.",
        "",
    )
    pathq = F.regexp_replace(after, r"^[^/?]+", "")
    path = F.regexp_replace(
        F.regexp_extract(pathq, r"^([^?]*)", 1), r"/+$", ""
    )
    path = F.when(path == "", F.lit("/")).otherwise(path)
    qs = F.regexp_extract(pathq, r"\?(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(qs, "&"),
            lambda p: (p != "")
            & ~p.rlike(r"^(utm_[^=]*|fbclid|gclid|ref)="),
        )
    )
    # Non-absolute input guard (r7 advice): a scheme-less/relative/
    # malformed URL ('example.org/a', '/a/b', 'not a url') used to
    # emit '://…' keys, collapsing DISTINCT junk inputs into shared
    # canonical-URL dedup groups. Such inputs never canonicalize —
    # pass the (trimmed, de-fragmented) original through unchanged so
    # each stays its own key and can never collide with a real URL.
    return F.when(
        scheme == "",
        no_frag,
    ).otherwise(
        F.concat(
            scheme,
            F.lit("://"),
            host,
            path,
            F.when(F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))).otherwise(F.lit("")),
        )
    )


def url_host(url: Column | str) -> Column:
    """Normalized host of an absolute URL — lowercased, default ports
    and leading ``www.`` stripped (the same host rule
    :func:`normalize_url` embeds, exposed standalone for domain-level
    curation ops). Scheme-less/malformed input yields ``''`` so junk
    never aggregates into a real domain's profile. Pure Column
    expressions, codegen-resident."""
    c = F.col(url) if isinstance(url, str) else url
    no_frag = F.regexp_replace(F.trim(c), r"#.*$", "")
    scheme = F.lower(
        F.regexp_extract(no_frag, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    )
    after = F.regexp_replace(no_frag, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    # same authority rule as normalize_url: drop userinfo, fold only
    # the scheme's own default port (http→:80, https→:443).
    hostport = F.lower(
        F.regexp_replace(
            F.regexp_extract(after, r"^([^/?]+)", 1), r"^[^@]*@", ""
        )
    )
    host = F.regexp_replace(
        F.when(scheme == "http", F.regexp_replace(hostport, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, r":443$", ""))
        .otherwise(hostport),
        r"^www\.",
        "",
    )
    return F.when(scheme == "", F.lit("")).otherwise(host)
