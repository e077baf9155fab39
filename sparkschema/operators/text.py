"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting. Pure Column
expressions — regex/array HOFs inside whole-stage codegen, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from sparkschema.operators.dedup import char_shingles, normalized_text

# tiny per-language stopword profiles (n-gram heuristic: function words are
# the highest-signal cheap discriminator)
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "es": ["de", "la", "que", "el", "en", "los", "del", "las", "por", "un"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein"],
    "fr": ["le", "la", "les", "des", "est", "dans", "que", "une", "pour", "qui"],
}

# BPE-ish tokenizer: word pieces OR single non-space symbols
TOKEN_REGEX = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"


def tokens(col: Column) -> Column:
    """Whitespace+symbol tokens (BPE-ish regex split)."""
    return F.regexp_extract_all(col, F.lit(TOKEN_REGEX), 0)


def token_count(col: Column) -> Column:
    # regexp_count ≡ size(regexp_extract_all(...)) for non-NULL input
    # (same non-overlapping leftmost matches) without materializing the
    # token array; NULL → NULL on both forms under ANSI (Spark 4
    # default). One regex pass instead of pass + array build.
    return F.regexp_count(col, F.lit(TOKEN_REGEX))


def whitespace_token_count(col: Column) -> Column:
    # runs+1 identity (r6): after trim there is no leading/trailing \s,
    # so split(trimmed, '\s+') yields exactly (whitespace-run count)+1
    # fields — regexp_count gives the same number in one regex pass with
    # no token array materialized (same identity the caption token gate
    # uses; values bit-identical incl. NULL -> NULL and all-ws -> 0)
    t = F.trim(col)
    return F.when(t == "", 0).otherwise(F.regexp_count(t, F.lit(r"\s+")) + 1)


def word_set(col: Column) -> Column:
    return F.array_distinct(F.split(normalized_text(col), " "))


def lang_id(col: Column) -> Column:
    """Best-guess language code, 'und' when nothing matches.

    Argmax via struct-max: structs compare lexicographically, so
    max(struct(score, inverted-tiebreak, lang)) picks the winner
    deterministically.

    The word set and the winning struct are bound ONCE through
    1-element-array HOF lambdas (the ``char_shingles`` CollapseProject
    pattern): as a bare tree ``word_set(col)`` inlines into each of the
    four per-language intersects and the ``greatest`` tree itself
    inlines into both ``best["s"]`` and ``best["lang"]`` — 8 copies of
    the normalize+split+distinct pass per row. Values unchanged."""
    lvl1 = F.struct(word_set(col).alias("ws"))

    def pick(b: Column) -> Column:
        cands = []
        for i, (lang, words) in enumerate(sorted(LANG_PROFILES.items())):
            profile = F.array(*[F.lit(w) for w in words])
            score = F.size(F.array_intersect(b["ws"], profile))
            cands.append(F.struct(score.alias("s"), F.lit(-i).alias("tb"),
                                  F.lit(lang).alias("lang")))
        lvl2 = F.struct(F.greatest(*cands).alias("best"))

        def out(b2: Column) -> Column:
            best = b2["best"]
            return F.when(best["s"] > 0, best["lang"]).otherwise(F.lit("und"))

        return F.get(F.transform(F.array(lvl2), out), 0)

    inner = F.get(F.transform(F.array(lvl1), pick), 0)
    # NULL text → NULL, not 'und' (NULL-in-NULL-out, same contract as
    # quality_score since r4): 'und' means "text with no language signal",
    # which an absent document is not — and the DuckDB oracle's CASE would
    # otherwise fall through its NULL comparisons to the LAST language
    # (pipeline-fuzz find r5)
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(inner)


def quality_features(col: Column) -> dict[str, Column]:
    """Raw quality signals (each a Column; alias at call site)."""
    n_chars = F.length(col)
    toks = tokens(col)
    n_tokens = F.size(toks)
    words = F.filter(toks, lambda t: t.rlike("^[A-Za-z0-9]+$"))
    n_words = F.size(words)
    mean_word_len = F.when(n_words > 0,
                           F.aggregate(words, F.lit(0),
                                       lambda acc, w: acc + F.length(w)) / n_words
                           ).otherwise(F.lit(0.0))
    n_punct = n_tokens - n_words
    stop_hits = F.size(F.array_intersect(
        word_set(col), F.array(*[F.lit(w) for w in LANG_PROFILES["en"]])))
    upper_ratio = F.when(n_chars > 0,
                         F.length(F.regexp_replace(col, r"[^A-Z]", "")) / n_chars
                         ).otherwise(F.lit(0.0))
    digit_ratio = F.when(n_chars > 0,
                         F.length(F.regexp_replace(col, r"[^0-9]", "")) / n_chars
                         ).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "punct_ratio": F.when(n_tokens > 0, n_punct / n_tokens).otherwise(F.lit(0.0)),
        "stopword_hits": stop_hits,
        "upper_ratio": upper_ratio,
        "digit_ratio": digit_ratio,
    }


def quality_score(col: Column) -> Column:
    """[0,1] heuristic quality score: rewards sane length, word shape and
    stopword presence; punishes punctuation/digit/upper excess. A fixed,
    documented formula — downstream filters should threshold it, not
    reinterpret the components.

    Same formula as composing :func:`quality_features` directly, but
    re-expressed over SCALAR regex counts with the shared counts bound
    ONCE through a 1-element-array HOF lambda (the ``char_shingles``
    CollapseProject pattern). As a bare tree the ``tokens(col)`` regex
    pass appears ~10× (every ``n_tokens`` / ``words`` /
    ``mean_word_len`` reference is an inlined copy, and interpreted HOFs
    get no codegen CSE), re-tokenizing each document ~10× per row. The
    scalar identities are exact, not approximations:

    - TOKEN_REGEX tokens = alnum runs ∪ single non-alnum-non-space
      symbols, so ``n_words = regexp_count(col, '[A-Za-z0-9]+')`` (the
      filter-matching tokens are precisely the alnum runs) and
      ``n_tokens = n_words + count(non-alnum, non-\\s chars)``;
    - ``Σ length(word) = count of alnum chars``, so ``mean_word_len``
      divides the same two integers the aggregate form did.

    The per-class char counts use ``translate`` (count of chars in class
    C = length - length(col with C removed)) instead of
    ``length(regexp_replace(col, '[^C]', ''))`` -- the keep-most-chars
    regex replace measured 2-3 s alone where translate reads 0.25 s,
    bit-identical counts. No token ARRAY materializes and no per-token
    interpreted rlike runs -- quality_score over the 50 k sf1.0 docs:
    13.6 s bare tree -> ~1 s, identical values (eqNullSafe diff count 0
    at sf1.0)."""
    import string as _string
    _ALNUM = (_string.ascii_uppercase + _string.ascii_lowercase
              + _string.digits)
    # \s in the JVM regex dialect is ASCII-only: [ \t\n\x0b\f\r]
    _WS = " \t\n\x0b\f\r"
    lvl1 = F.struct(
        F.length(col).alias("n_chars"),
        F.regexp_count(col, F.lit(r"[A-Za-z0-9]+")).alias("n_words"),
        (F.length(col) - F.length(F.translate(col, _ALNUM, "")))
        .alias("n_alnum"),
        F.length(F.translate(col, _ALNUM + _WS, "")).alias("n_symbols"),
        F.size(F.array_intersect(
            word_set(col),
            F.array(*[F.lit(w) for w in LANG_PROFILES["en"]])))
         .alias("stop_hits"),
        (F.length(col) - F.length(F.translate(col, _string.ascii_uppercase,
                                              "")))
        .alias("n_upper"),
        (F.length(col) - F.length(F.translate(col, _string.digits, "")))
        .alias("n_digit"),
    )

    def score(b: Column) -> Column:
        n_chars = b["n_chars"]
        n_words = b["n_words"]
        n_tokens = n_words + b["n_symbols"]
        mean_word_len = F.when(
            n_words > 0, b["n_alnum"] / n_words).otherwise(F.lit(0.0))
        punct_ratio = F.when(n_tokens > 0,
                             (n_tokens - n_words) / n_tokens
                             ).otherwise(F.lit(0.0))
        upper_ratio = F.when(n_chars > 0,
                             b["n_upper"] / n_chars).otherwise(F.lit(0.0))
        digit_ratio = F.when(n_chars > 0,
                             b["n_digit"] / n_chars).otherwise(F.lit(0.0))
        length_ok = F.when((n_chars >= 20) & (n_chars <= 20000), 1.0) \
                     .when(n_chars > 0, 0.5).otherwise(0.0)
        wordlen_ok = F.when((mean_word_len >= 2.5)
                            & (mean_word_len <= 12), 1.0).otherwise(0.3)
        stop_ok = F.least(b["stop_hits"].cast("double") / 3.0, F.lit(1.0))
        penalty = F.least(punct_ratio * 1.5 + digit_ratio + upper_ratio,
                          F.lit(1.0))
        raw = (0.3 * length_ok + 0.2 * wordlen_ok + 0.3 * stop_ok
               + 0.2 * (1.0 - penalty))
        return F.round(F.greatest(F.least(raw, F.lit(1.0)), F.lit(0.0)), 6)

    out = F.get(F.transform(F.array(lvl1), score), 0)
    # NULL text scores NULL — without the guard, size(NULL)=NULL rode
    # through F.least (which SKIPS nulls) into full stopword credit and
    # a 0.56 "quality" for a nonexistent document (review find r4)
    return F.when(col.isNull(), F.lit(None).cast("double")).otherwise(out)


def content_fingerprint(col: Column) -> Column:
    """64-bit content fingerprint of normalized text (xxhash64) — the exact
    dedup key as a compact integer."""
    return F.xxhash64(normalized_text(col))


def rolling_fingerprints(col: Column, k: int = 8, keep: int = 4) -> Column:
    """Winnowing-style fingerprint: the ``keep`` smallest hashes of the
    k-shingle set. Robust to local edits (shared shingles keep shared
    minima) — an array<bigint> join key for containment checks."""
    hashes = F.transform(char_shingles(normalized_text(col), k),
                         lambda s: F.xxhash64(s))
    return F.slice(F.array_sort(hashes), 1, keep)


def word_ngrams(col: Column, n: int = 3) -> Column:
    """Word-level n-grams of the normalized text as an array of joined
    strings (empty array when the doc has fewer than ``n`` words; NULL
    for NULL text). The word array is bound through a HOF lambda
    variable so the normalization regex runs once per ROW, not once per
    gram (the char_shingles CollapseProject pattern — interpreted HOFs
    get no CSE)."""
    words = F.split(normalized_text(col), " ")

    def build(ws: Column) -> Column:
        k = F.size(ws) - (n - 1)

        def gram(i: Column) -> Column:
            # slice+array_join ≡ concat_ws(" ", get(ws,i), …, get(ws,i+n-1))
            # (split yields no NULL elements; both skip NULLs anyway) in 2
            # interpreted expression evals per gram instead of n+1
            return F.array_join(F.slice(ws, i + 1, n), " ")

        return F.when(k <= 0, F.array().cast("array<string>")) \
                .otherwise(F.transform(F.sequence(F.lit(0), k - 1), gram))

    out = F.get(F.transform(F.array(words), build), 0)
    return F.when(col.isNull(), F.lit(None).cast("array<string>")) \
            .otherwise(out)


def ngram_repetition(col: Column, n: int = 3) -> Column:
    """Duplicate word-n-gram fraction ``1 - distinct/total`` — the
    standard LLM-corpus repetition filter (boilerplate, listicles and
    degenerate generations score high; clean prose scores near 0).
    NULL for documents with no n-grams. Pure Column expressions —
    whole-stage codegen, no shuffle, no Python."""
    g = word_ngrams(col, n)
    total = F.size(g)
    return F.when(total <= 0, F.lit(None).cast("double")).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(g)) / total.cast("double"))


def vocab_topk(df, text_col: str, id_col: str, k: int = 20):
    """Corpus vocabulary report: the top-``k`` normalized words by total
    term frequency, with document frequency beside it — the first thing
    a corpus audit looks at (degenerate corpora show a handful of words
    dominating; healthy ones show a Zipf tail).

    Returns ``(word, tf, df)`` ordered by ``tf`` desc, ``df`` desc,
    ``word`` asc — a TOTAL order, so the top-``k`` cut is deterministic
    even through ties.

    Scale: one explode feeding ONE hash aggregate. ``tf`` is
    map-side-combinable; exact ``df`` (count distinct doc) rewrites to a
    two-level aggregate (partial distinct per partition) under Spark's
    distinct-aggregate planning, so the only full shuffle is keyed by
    word — at 10^12 rows the word key space is small and heavy-hitter
    skew is absorbed by the partial aggregates. The final top-k is a
    TakeOrderedAndProject (no global sort materialization). NULL/empty
    texts contribute nothing (explode of NULL/empty drops the row).
    """
    words = F.explode(
        F.split(normalized_text(F.col(text_col)), " ")).alias("word")
    exploded = df.select(F.col(id_col).alias("__doc"), words) \
                 .where(F.col("word") != "")
    return (exploded.groupBy("word")
            .agg(F.count(F.lit(1)).alias("tf"),
                 F.countDistinct("__doc").alias("df"))
            .orderBy(F.col("tf").desc(), F.col("df").desc(),
                     F.col("word").asc())
            .limit(k))


# URL / domain extraction (corpus provenance audit + blocklist filtering) --

# Java-regex ∩ RE2 common subset (no lookaround/backrefs) so the DuckDB
# differential oracle runs the SAME pattern verbatim; [^ \t\n\r] rather
# than \S keeps the two engines' whitespace notion identical (ASCII).
URL_REGEX = r"https?://[A-Za-z0-9.-]+(?:/[^ \t\n\r]*)?"
_DOMAIN_REGEX = r"https?://([A-Za-z0-9.-]+)"


def urls(col: Column) -> Column:
    """All ``http(s)://`` URLs in ``col`` as an array (NULL text → NULL)."""
    return F.regexp_extract_all(col, F.lit(URL_REGEX), 0)


def url_domain(url_col: Column) -> Column:
    """Lower-cased host of one URL string ('' if not URL-shaped)."""
    return F.lower(F.regexp_extract(url_col, _DOMAIN_REGEX, 1))


def domain_counts(df, text_col: str, id_col: str | None = None):
    """Corpus provenance report: ``(domain, n_urls, n_docs)`` for every
    domain mentioned in ``text_col``, ordered by ``n_urls`` desc then
    domain asc (total order — deterministic through ties).

    ``n_docs`` counts distinct ``id_col`` values (falls back to a
    synthetic per-row id when the frame has no stable document id).

    Scale: explode → one hash aggregate keyed by domain (small key
    space; heavy-hitter domains collapse in the map-side partial).
    NULL/URL-free texts contribute nothing.
    """
    if id_col is not None:
        base = df.select(F.col(id_col).alias("__doc"), F.col(text_col))
    else:
        # the synthetic id must be stamped in a projection BELOW the
        # explode: inside the same select, ExtractGenerator re-evaluates
        # the nondeterministic expression once per GENERATED row, so
        # every URL got a fresh id and n_docs degenerated to n_urls
        # (review find r5, confirmed live)
        base = df.select(F.col(text_col)) \
                 .withColumn("__doc", F.monotonically_increasing_id())
    u = base.select("__doc", F.explode(urls(F.col(text_col))).alias("u"))
    return (u.select("__doc", url_domain(F.col("u")).alias("domain"))
             .where(F.col("domain") != "")
             .groupBy("domain")
             .agg(F.count(F.lit(1)).cast("long").alias("n_urls"),
                  F.countDistinct("__doc").cast("long").alias("n_docs"))
             .orderBy(F.col("n_urls").desc(), F.col("domain").asc()))


def domain_blocklist_filter(df, text_col: str, blocked: list[str]):
    """Drop documents whose text links to any blocked domain (exact host
    or subdomain match) — the standard corpus scrub step downstream of
    :func:`domain_counts`. NULL texts pass through (no URL facts).

    Pure expressions: ``exists`` over the extracted URL array, no join
    (the blocklist compiles into the predicate — at a million-entry
    blocklist switch to a broadcast anti-join on the exploded domain)."""
    blocked_arr = F.array(*[F.lit(b.lower()) for b in blocked])
    doms = F.transform(urls(F.col(text_col)), lambda x: url_domain(x))
    hit = F.exists(doms, lambda d: F.exists(
        blocked_arr,
        lambda b: (d == b) | d.endswith(F.concat(F.lit("."), b))))
    return df.where(F.col(text_col).isNull() | ~F.coalesce(hit, F.lit(False)))


# benchmark decontamination (n-gram overlap flagging) ----------------------

def contamination_flags(df, text_col: str, id_col: str, bench_df,
                        bench_text_col: str, n: int = 8):
    """Benchmark decontamination: flag corpus documents sharing any
    word-``n``-gram with a benchmark/eval set — the standard pre-training
    hygiene pass (a training document containing an eval question leaks
    the benchmark). Returns ``(id_col, n_hits long)`` with one row per
    CONTAMINATED document (``n_hits`` = distinct matching grams).

    Scale: the benchmark side is small by construction (eval suites are
    thousands of documents, not billions), so its distinct gram set
    broadcasts and the corpus side joins without shuffling its own
    exploded grams — a billion-document corpus stays map-side. Per-doc
    gram dedup is ``array_distinct`` BEFORE the explode (row-local, no
    exchange); a global ``.distinct()`` on the exploded corpus grams
    would shuffle ~n_tokens rows per document — more than the corpus
    itself (review find r5). The groupBy key is the doc id, so the only
    corpus-side exchange carries the (rare) contaminated hits.
    NULL/short texts produce no grams and cannot be flagged.
    """
    bench_grams = (bench_df
                   .select(F.explode(word_ngrams(F.col(bench_text_col), n))
                            .alias("gram"))
                   .distinct())
    doc_grams = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams(F.col(text_col), n)))
         .alias("gram"))
    return (doc_grams.join(F.broadcast(bench_grams), "gram")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits")))
