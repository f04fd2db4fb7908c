"""Text analysis operators: language ID, quality scoring, token
counting, document fingerprinting.

All pure Catalyst expressions (split / filter / size / md5 / crc32 —
whole-stage codegen, zero Python), so they run at scan speed and are
exactly reproducible in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Tiny per-language stopword tables for the n-gram/stopword-voting
# heuristic. Deliberately small and frozen: the oracle SQL embeds the
# same lists, so the two engines agree token-for-token.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "se", "no"),
    "de": ("der", "die", "das", "und", "ist", "in", "den", "von", "zu", "mit"),
    "fr": ("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"),
}


def _tokens(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def token_count(col: str | Column) -> Column:
    """Whitespace token count (the BPE-ish regex variant is
    :func:`subword_count`)."""
    return F.size(_tokens(col))


def subword_count(col: str | Column) -> Column:
    """BPE-ish proxy: count of letter-runs, digit-runs and punctuation
    marks — a deterministic upper-ish bound on BPE token count."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))


def stopword_hits(col: str | Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(_tokens(col), lambda w: w.isin(*words)))


def quality_score(col: str | Column, round_to: int = 6) -> Column:
    """Cheap quality heuristic in [0, 1]: blend of stopword ratio,
    mean token length band, and alpha ratio. Frozen formula — the
    DuckDB oracle reproduces it digit-for-digit (rounded)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = _tokens(c)
    n = F.size(toks)
    stop_ratio = stopword_hits(c, "en") / n
    mean_len = F.length(c) / n
    len_band = F.when((mean_len >= 3) & (mean_len <= 10), F.lit(1.0)) \
                .otherwise(F.lit(0.5))
    # empty text: 0/0 would be NULL (or an ANSI-mode error) — a defined
    # 0.0 alpha ratio keeps empty documents scored on both engines
    # (ADVICE r01; the DuckDB oracle carries the same CASE guard).
    alpha_ratio = F.when(
        F.length(c) > 0,
        F.length(F.regexp_replace(c, r"[^A-Za-z ]", "")) / F.length(c),
    ).otherwise(F.lit(0.0))
    return F.round(
        F.least(F.lit(1.0),
                stop_ratio * 2.0 * F.lit(0.4) + len_band * F.lit(0.3)
                + alpha_ratio * F.lit(0.3)),
        round_to)


def lang_id(col: str | Column) -> Column:
    """Stopword-voting language ID over the frozen tables; ``und``
    when nothing votes. Ties break in fixed order en>es>de>fr."""
    c = F.col(col) if isinstance(col, str) else col
    hits = {lang: stopword_hits(c, lang) for lang in STOPWORDS}
    best = F.greatest(*hits.values())
    expr = F.when((best > 0) & (hits["en"] == best), F.lit("en")) \
        .when((best > 0) & (hits["es"] == best), F.lit("es")) \
        .when((best > 0) & (hits["de"] == best), F.lit("de")) \
        .when((best > 0) & (hits["fr"] == best), F.lit("fr")) \
        .otherwise(F.lit("und"))
    return expr


def doc_fingerprint(col: str | Column) -> Column:
    """Deterministic document fingerprint: md5 hex of the text (the
    rolling-hash variant at scale is xxhash64 over shingles — see
    dedup.minhash_signature)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c.cast("binary"))


def gopher_quality(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   min_words: int = 50, max_words: int = 100_000,
                   min_mean_word_len: float = 3.0,
                   max_mean_word_len: float = 10.0,
                   max_symbol_ratio: float = 0.1,
                   max_bullet_ratio: float = 0.9,
                   max_ellipsis_ratio: float = 0.3,
                   min_stopword_hits: int = 2) -> DataFrame:
    """Gopher-style document quality rules (simplified subset of the
    repetition/quality filters published in Rae et al. 2021, "Scaling
    Language Models: ... Gopher", Appendix A — public knowledge; also
    used by Dolma/RefinedWeb-style pipelines).

    Pure Catalyst: one projection, shuffle-free, fuses with the scan.
    Each signal is emitted alongside the final ``keep`` verdict so a
    pipeline can re-threshold without recomputing. Deterministic and
    reproduced digit-for-digit by the DuckDB oracle.

    Columns: ``doc_id, n_words, mean_word_len, symbol_ratio,
    bullet_ratio, ellipsis_ratio, stopword_hits, keep``.
    """
    c = F.col(text_col)
    words = F.filter(F.split(c, " "), lambda w: w != "")
    n_words = F.size(words)
    sum_len = F.aggregate(words, F.lit(0).cast("long"),
                          lambda acc, w: acc + F.length(w))
    mean_wl = F.round(F.when(n_words > 0, sum_len / n_words)
                       .otherwise(F.lit(0.0)), 4)
    n_chars = F.length(c)
    symbol_ratio = F.round(
        F.when(n_chars > 0,
               F.regexp_count(c, F.lit(r"[^A-Za-z0-9\s]")) / n_chars)
         .otherwise(F.lit(0.0)), 4)
    lines = F.split(c, "\n")
    n_lines = F.size(lines)
    bullet_ratio = F.round(
        F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]")))
        / n_lines, 4)
    ellipsis_ratio = F.round(
        F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$")))
        / n_lines, 4)
    stop_hits = stopword_hits(c, "en")
    keep = ((n_words >= min_words) & (n_words <= max_words)
            & (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
            & (symbol_ratio <= max_symbol_ratio)
            & (bullet_ratio <= max_bullet_ratio)
            & (ellipsis_ratio <= max_ellipsis_ratio)
            & (stop_hits >= min_stopword_hits))
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_ratio.alias("bullet_ratio"),
        ellipsis_ratio.alias("ellipsis_ratio"),
        stop_hits.alias("stopword_hits"),
        keep.alias("keep"),
    )


def tfidf_top_terms(df: DataFrame, k: int = 3, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Top-k TF-IDF terms per document.

    Plan: explode tokens → (doc, term) tf aggregate → term df aggregate
    → idf join → per-doc top-k window. Shuffle keys are (doc, term) and
    (term) — narrow rows, map-side partial aggregation; never the text.
    At 100 TB the df table is the only corpus-wide aggregate and it is
    one long per distinct term. Deterministic: ties break on term asc.

    Columns: ``doc_id, term, score, rank``.
    """
    from pyspark.sql import Window

    tok = (df.select(F.col(id_col), F.explode(
               F.filter(F.split(text_col, " "), lambda w: w != "")).alias("term")))
    tf = tok.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df_"))
    n_docs = df.select(F.countDistinct(id_col).alias("n_docs"))
    scored = (tf.join(dfreq, "term")
              .crossJoin(F.broadcast(n_docs))
              .withColumn("score",
                          F.col("tf") * F.log(F.col("n_docs") / F.col("df_"))))
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(),
                                           F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(id_col, "term", F.round("score", 4).alias("score"),
                    "rank"))


def text_stats(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """One-pass per-document stats frame: all expressions fuse into a
    single projection over the scan (one WholeStageCodegen span)."""
    c = F.col(text_col)
    return df.select(
        F.col(id_col),
        token_count(c).alias("n_tokens"),
        F.length(c).alias("n_chars"),
        quality_score(c).alias("quality"),
        lang_id(c).alias("lang_pred"),
        doc_fingerprint(c).alias("fingerprint"),
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 4,
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 App. A,
    "repetition" family): per-document bigram concentration — total
    bigrams, the top bigram's count, its fraction of all bigrams, and
    the duplicate-bigram fraction (1 − distinct/total). High values
    mark boilerplate/keyword-stuffed/looping text that length or
    stopword filters miss.

    Shape at 100 TB: explode → (doc, gram) hash-agg (map-side partial)
    → per-doc re-agg; shuffle keys are (doc_id, gram) then doc_id —
    never the text. Documents with fewer than 2 tokens are excluded
    (no bigrams to measure). Columns: ``doc_id, n_bigrams,
    top_bigram_n, top_bigram_frac, dup_bigram_frac``.
    """
    from goose_parser_spark.ops.dedup import shingles

    grams = df.select(F.col(id_col),
                      F.explode(shingles(text_col, 2)).alias("g"))
    per_gram = grams.groupBy(id_col, "g").agg(F.count("*").alias("c"))
    return (per_gram.groupBy(id_col)
            .agg(F.sum("c").alias("n_bigrams"),
                 F.max("c").alias("top_bigram_n"),
                 F.count("*").alias("_distinct"))
            .select(
                F.col(id_col),
                F.col("n_bigrams"),
                F.col("top_bigram_n"),
                F.round(F.col("top_bigram_n") / F.col("n_bigrams"),
                        round_to).alias("top_bigram_frac"),
                F.round(1 - F.col("_distinct") / F.col("n_bigrams"),
                        round_to).alias("dup_bigram_frac")))


# PII patterns (redaction): RE2-compatible — no lookaround, no
# backrefs — so the DuckDB oracle runs the IDENTICAL expressions.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
# Phone contract (ADVICE r03): either an international +-prefixed run
# (8-18 chars of digits/space/()/-) or a separator-delimited 3-3-4
# domestic form with word boundaries. Bare digit runs, ISBNs, IDs, and
# year ranges like "2020-2021" are NOT redacted (pinned by test).
_PII_PHONE = (r"(?:\+\d[\d ()-]{6,16}\d"
              r"|\b\d{3}[-. ]\d{3}[-. ]\d{4}\b)")


def redact_pii(
    col: str | Column,
    email_token: str = "<EMAIL>",
    ip_token: str = "<IP>",
    phone_token: str = "<PHONE>",
) -> Column:
    """Redact emails, IPv4 addresses, and phone-shaped digit runs —
    the standard pre-training scrub pass. Pure Catalyst regexp_replace
    chain (one codegen projection, shuffle-free); replacement order is
    part of the contract (email → ip → phone) so engines agree.

    Phone matching is deliberately conservative (see ``_PII_PHONE``):
    it requires a ``+`` prefix or 3-3-4 separator structure, so ISBNs
    / numeric IDs / year ranges survive un-redacted."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, _PII_EMAIL, email_token)
    c = F.regexp_replace(c, _PII_IPV4, ip_token)
    c = F.regexp_replace(c, _PII_PHONE, phone_token)
    return c


def clean_text(col: str | Column) -> Column:
    """Pre-training text cleanup: control characters (C0 + DEL) become
    spaces, space runs collapse, ends trim. Two regexp_replace passes
    in one codegen projection. The control-char pass runs FIRST, so
    tabs/newlines join the collapse — after it only U+0020 remains as
    whitespace, making the second pattern a plain ``' +'`` that means
    the same thing in Java regex and RE2 (the oracle's engine)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"[\x00-\x1f\x7f]", " ")
    return F.trim(F.regexp_replace(c, r" +", " "))


#: mojibake tell-tales: UTF-8 lead bytes read as Latin-1/cp1252 —
#: 'Ã'/'Â' (2-byte sequences), 'â€' (the ubiquitous smart-quote/dash
#: family), 'ðŸ' (4-byte emoji). Same pattern both engines (RE2-safe).
MOJIBAKE_PATTERN = "Ã|Â|â€|ðŸ"


def fix_mojibake(col: str | Column) -> Column:
    """Repair UTF-8-decoded-as-Latin-1 mojibake ("cafÃ©" → "café"),
    the single most common encoding corruption in web corpora (public
    knowledge: the ftfy heuristic family). Fully JVM-side — no Python:

    re-encode the string as ISO-8859-1 and re-decode as UTF-8; apply
    the result ONLY when (a) the text shows mojibake tell-tales
    (:data:`MOJIBAKE_PATTERN`), (b) every char is ≤ U+00FF so the
    Latin-1 re-encode is lossless, and (c) the resulting byte stream
    is valid UTF-8 (``is_valid_utf8``). Anything failing a guard
    passes through unchanged — the repair can only fire where it is an
    exact inverse. Guard ORDER is load-bearing under ANSI mode:
    Spark's AND/CASE short-circuit per row, so ``encode`` (which
    throws on chars > U+00FF) only evaluates behind guard (b), and
    ``decode`` (which throws on malformed bytes) only evaluates
    behind guard (c).

    One codegen projection; safe to run corpus-wide as a map-only
    stage before other text ops.
    """
    c = F.col(col) if isinstance(col, str) else col
    latin1_bytes = F.encode(c, "ISO-8859-1")
    return F.when(
        c.rlike(MOJIBAKE_PATTERN)
        & c.rlike("^[\\x00-ÿ]*$")
        & F.is_valid_utf8(latin1_bytes),
        F.decode(latin1_bytes, "UTF-8"),
    ).otherwise(c)


def mojibake_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Detect-and-repair report per document: ``doc_id, text (fixed),
    was_mojibake (repair actually changed the text)``. A scan-level
    projection (:func:`fix_mojibake` inlined twice; Catalyst CSEs the
    round-trip)."""
    fixed = fix_mojibake(F.col(text_col))
    return df.select(
        F.col(id_col),
        fixed.alias(text_col),
        (fixed != F.col(text_col)).alias("was_mojibake"))


def chunk_documents(
    df: DataFrame,
    size: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap —
    the chunking step feeding embedding models / context-window-bound
    training. Chunk ``i`` starts at token ``i*stride`` (0-based) and
    spans up to ``size`` tokens; the final chunk may be short; starts
    past the end are not emitted. Map-side Generate only (sequence →
    slice → posexplode), no shuffle, no Python.

    Output: ``id_col, chunk_id, chunk_start, n_tokens, chunk_text``.
    Empty documents produce no chunks.
    """
    if size < 1 or stride < 1:
        raise ValueError("size and stride must be >= 1")
    w = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    n = F.size(w)
    starts = F.sequence(F.lit(0), n - 1, F.lit(stride))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("chunk_start"),
            F.size(F.slice(w, s + 1, size)).alias("n_tokens"),
            F.concat_ws(" ", F.slice(w, s + 1, size)).alias("chunk_text"),
        ))
    return (df.where(n >= 1)
            .select(F.col(id_col), F.posexplode(chunks).alias("chunk_id", "c"))
            .select(id_col, "chunk_id", F.col("c.chunk_start"),
                    F.col("c.n_tokens"), F.col("c.chunk_text")))


# classifier_score weight scale: md5-prefix ints are uniform in
# [0, 16^8); subtracting half centres them on zero.
_CLF_HALF = 16 ** 8 // 2


def classifier_score(
    col: str | Column,
    salt: str = "clf",
    round_to: int = 6,
) -> Column:
    """Linear text classifier over hashed token features — the
    fastText-style quality-classifier *serving* path: score(doc) =
    mean over tokens of w[h(token)], where the weight table is
    addressed by a hash of the token (no vocabulary file ships with
    the job). Here the weight of a token IS a pure md5 function of
    (token, salt) — i.e. a frozen random model — which keeps the
    operator fully oracle-checkable; swapping in trained weights
    means joining/broadcasting a (hash → weight) table in the same
    plan shape.

    All arithmetic before the final division is EXACT int64 (md5
    prefix minus centre, summed) — float summation order can differ
    across engines, integer sums cannot. Score lands in [-1, 1],
    rounded. Empty/whitespace-only text scores 0.0.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.filter(F.split(c, " "), lambda x: x != "")
    weights = F.transform(
        toks,
        lambda t: F.conv(F.substring(
            F.md5(F.concat(t, F.lit(salt))), 1, 8), 16, 10)
        .cast("long") - F.lit(_CLF_HALF).cast("long"))
    total = F.aggregate(weights, F.lit(0).cast("long"), lambda a, x: a + x)
    n = F.size(toks)
    return F.when(n > 0, F.round(
        total / (n.cast("double") * F.lit(float(_CLF_HALF))), round_to)
    ).otherwise(F.lit(0.0))


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-trained unigram LM score per document — the CCNet-style
    perplexity-proxy quality signal: docs whose tokens are improbable
    under the corpus's own unigram distribution (add-one smoothing)
    are outliers (gibberish, boilerplate, wrong language).

    Two corpus passes, all narrow: token counts (hash-agg on the
    token), then re-join tokens to their counts and sum per doc. The
    corpus totals (N tokens, V vocab) are a ONE-ROW side — the same
    bounded-broadcast shape as TF-IDF's corpus count. Per-token
    logprob is scaled to integer micro-nats BEFORE the per-doc sum
    (``round(ln(p)·1e6)`` → int64): float summation order never
    enters, so Spark and the oracle agree exactly; a 1-ulp libm
    difference in ``ln`` itself is killed by the rounding.

    Output: ``id_col, n_tokens, logprob_micro`` (sum of per-token
    micro-nat logprobs; divide by ``n_tokens`` for the mean). Docs
    with no tokens are absent.
    """
    toks = (df.select(F.col(id_col),
                      F.explode(F.filter(_tokens(text_col),
                                         lambda x: x != "")).alias("t")))
    counts = toks.groupBy("t").agg(F.count("*").alias("c"))
    totals = (toks.agg(F.count("*").alias("n"))
              .crossJoin(counts.agg(F.count("*").alias("v"))))
    scaled = F.round(F.log((F.col("c") + 1.0) / (F.col("n") + F.col("v")))
                     * 1_000_000).cast("long")
    return (toks.join(counts, on="t")
            .crossJoin(totals)
            .groupBy(id_col)
            .agg(F.count("*").alias("n_tokens"),
                 F.sum(scaled).alias("logprob_micro")))


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lambda_milli: int = 800,
) -> DataFrame:
    """Corpus-trained INTERPOLATED-BIGRAM LM score per document — the
    sharper sibling of :func:`unigram_logprob` (bigram perplexity
    separates fluent text from shuffled-word salad that a unigram LM
    scores identically):

    ``P(w2|w1) = λ·c(w1 w2)/c(w1·) + (1−λ)·P_uni(w2)``

    with add-one-smoothed unigram backoff and ``λ = lambda_milli/1000``
    (an integer knob, exactly reproducible configuration). The first
    token of each document scores under the unigram term alone.

    Plan: one explode builds token AND adjacent-bigram rows; bigram
    and history counts are hash-aggs keyed by the pair/token; per-token
    contributions are rounded to integer micro-nats before the per-doc
    BIGINT sum, so summation order never enters (the
    :func:`unigram_logprob` determinism recipe). All shuffles carry
    tokens/pairs + counts, never text.

    Output: ``id_col, n_tokens, logprob_micro``. Docs with no tokens
    are absent.
    """
    if not 0 <= lambda_milli <= 1000:
        raise ValueError("lambda_milli must be in [0, 1000]")
    lam = lambda_milli / 1000.0
    toks = (df.select(F.col(id_col),
                      F.posexplode(F.filter(_tokens(text_col),
                                            lambda x: x != ""))
                      .alias("i", "t")))
    counts = toks.groupBy("t").agg(F.count("*").alias("c"))
    totals = (toks.agg(F.count("*").alias("n"))
              .crossJoin(counts.agg(F.count("*").alias("v"))))
    # adjacent pairs within the doc: self-join on (doc, i) vs (doc,
    # i+1) would shuffle twice; instead rebuild pairs from the text in
    # the same explode (transform over the token array)
    pair_src = (df.select(
        F.col(id_col),
        F.filter(_tokens(text_col), lambda x: x != "").alias("_w")))
    pairs = (pair_src.select(
        F.col(id_col),
        F.posexplode(F.expr(
            "CASE WHEN size(_w) < 2 "
            "THEN CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) "
            "ELSE transform(sequence(1, size(_w) - 1), "
            "i -> struct(element_at(_w, i) AS w1, "
            "element_at(_w, i + 1) AS w2)) END")).alias("i0", "p"))
        .select(id_col, (F.col("i0") + 1).alias("i"),
                F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")))
    big_counts = pairs.groupBy("w1", "w2").agg(F.count("*").alias("bc"))
    hist_counts = pairs.groupBy("w1").agg(F.count("*").alias("hc"))
    p_uni = (F.col("c") + 1.0) / (F.col("n") + F.col("v"))
    # non-first tokens: interpolated bigram
    scored_pairs = (pairs
                    .join(big_counts, on=["w1", "w2"])
                    .join(hist_counts, on="w1")
                    .join(counts, on=F.col("w2") == F.col("t"))
                    .crossJoin(totals)
                    .select(F.col(id_col),
                            F.round(F.log(
                                F.lit(lam) * F.col("bc") / F.col("hc")
                                + F.lit(1.0 - lam) * p_uni)
                                * 1_000_000).cast("long").alias("lp")))
    # first token of each doc: unigram-only
    first = (toks.where(F.col("i") == 0)
             .join(counts, on="t")
             .crossJoin(totals)
             .select(F.col(id_col),
                     F.round(F.log(p_uni) * 1_000_000).cast("long")
                     .alias("lp")))
    return (first.unionByName(scored_pairs)
            .groupBy(id_col)
            .agg(F.count("*").alias("n_tokens"),
                 F.sum("lp").alias("logprob_micro")))


# Terminal-punctuation set for the C4 line rule (Raffel et al. 2020,
# "Exploring the Limits of Transfer Learning…", §2.2 public heuristics:
# keep only lines ending in terminal punctuation, drop short lines,
# de-duplicate). RE2-compatible so the oracle runs the same pattern.
_C4_TERMINAL_RE = r'[.!?"\x27]\s*$'


def _c4_kept_lines(c: Column, min_words: int) -> Column:
    """Array of surviving lines under the C4 rules (≥ min_words words,
    terminal punctuation, within-doc dedup keeping first occurrence —
    ``array_distinct`` preserves first-occurrence order)."""
    lines = F.split(c, "\n")
    words = lambda l: F.size(F.filter(F.split(l, " "), lambda w: w != ""))
    kept = F.filter(
        lines,
        lambda l: (words(l) >= min_words) & l.rlike(_C4_TERMINAL_RE))
    return F.array_distinct(kept)


def c4_clean_text(col: str | Column, min_words: int = 3) -> Column:
    """Column form of the C4 line cleanup: the text with only the
    surviving lines, newline-joined (for in-pipeline text rewriting —
    e.g. jobs/curate.py --c4-clean)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_join(_c4_kept_lines(c, min_words), "\n")


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 3,
) -> DataFrame:
    """C4-style line cleanup: keep only lines with ≥ ``min_words``
    words that end in terminal punctuation, then drop repeated lines
    within the document (first occurrence wins). Pure Catalyst array
    expressions in ONE projection — a scan-level rewrite at any corpus
    size; the corpus-wide three-sentence-span dedup C4 also does is
    the separate
    :func:`goose_parser_spark.ops.dedup.paragraph_dup_stats` /
    winnowing family.

    Output: ``id_col, clean, n_lines, n_kept`` (n_kept counts the
    post-dedup surviving lines).
    """
    c = F.col(text_col)
    deduped = _c4_kept_lines(c, min_words)
    return df.select(
        F.col(id_col),
        F.array_join(deduped, "\n").alias("clean"),
        F.size(F.split(c, "\n")).alias("n_lines"),
        F.size(deduped).alias("n_kept"))


# Unicode-script character classes. Spark compiles Java-regex script
# properties (\p{IsX}), DuckDB compiles the RE2 spelling (\p{X}) —
# same classes, per-dialect spelling handled by the caller's SQL.
_SCRIPT_CLASSES: tuple[tuple[str, str], ...] = (
    ("latin", r"\p{IsLatin}"),
    ("cyrillic", r"\p{IsCyrillic}"),
    ("han", r"\p{IsHan}"),
    ("arabic", r"\p{IsArabic}"),
)


def script_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unicode-script profile per document: character counts for the
    major script classes plus a script verdict (most characters wins;
    ties break in ``_SCRIPT_CLASSES`` order; no script characters →
    ``und``). Complements the stopword language-ID: script is the
    cheap first-stage router (e.g. don't run Latin stopword tables on
    CJK text), and mixed-script docs are a spam/injection signal.
    Counts via length-difference of a ``regexp_replace`` per class —
    one codegen projection, no Python, no shuffle.
    """
    c = F.col(text_col)
    counts = {
        name: (F.length(c)
               - F.length(F.regexp_replace(c, pat, ""))).cast("int")
        for name, pat in _SCRIPT_CLASSES
    }
    best = None
    for name, _ in _SCRIPT_CLASSES:
        cond = F.lit(True)
        for other, _ in _SCRIPT_CLASSES:
            if other != name:
                # strictly-greater against earlier classes is implied
                # by first-match-wins; >= against later ones
                cond = cond & (counts[name] >= counts[other])
        cond = cond & (counts[name] > 0)
        branch = F.lit(name)
        best = F.when(cond, branch) if best is None else best.when(cond, branch)
    verdict = best.otherwise(F.lit("und"))
    return df.select(
        F.col(id_col),
        *[counts[name].alias(f"n_{name}") for name, _ in _SCRIPT_CLASSES],
        verdict.alias("script_pred"))


def perplexity_buckets(
    scored: DataFrame,
    lang_col: str = "lang",
    score_col: str = "ppl_micro",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style head/middle/tail partition (public knowledge —
    Wenzek et al. 2020: each language's corpus is split at the
    perplexity terciles of a reference LM; 'head' is the cleanest
    third and downstream pipelines sample the three buckets with
    different weights).

    ``scored``: one row per doc with ``lang_col`` and an INTEGER
    per-token perplexity proxy ``score_col`` (lower = more fluent;
    e.g. ``-logprob_micro DIV n_tokens`` from
    :func:`unigram_logprob` — integer division keeps the score
    byte-reproducible cross-engine). Thresholds are the exact 1/3 and
    2/3 percentiles per language, rounded to 4 dp (the same
    interpolation DuckDB's ``quantile_cont`` uses, so the oracle can
    replay the cut-points bit-for-bit).

    Plan: one per-language percentile aggregate (the threshold table
    is bounded by the number of languages) joined back — no hint, AQE
    broadcasts it. At 100 TB swap ``percentile`` for
    ``percentile_approx`` (t-digest, one pass, mergeable) with a
    documented tolerance; the query shape is unchanged.

    Columns: ``doc_id, lang, <score_col>, bucket``.
    """
    th = scored.groupBy(lang_col).agg(
        F.round(F.percentile(F.col(score_col), F.lit(1.0 / 3)), 4)
         .alias("_t1"),
        F.round(F.percentile(F.col(score_col), F.lit(2.0 / 3)), 4)
         .alias("_t2"))
    c = F.col(score_col)
    return (scored.join(th, on=lang_col)
            .select(F.col(id_col), F.col(lang_col), c,
                    F.when(c <= F.col("_t1"), F.lit("head"))
                     .when(c <= F.col("_t2"), F.lit("middle"))
                     .otherwise(F.lit("tail")).alias("bucket")))


# Bounded abbreviation table (VERDICT r04 #7): a period directly after
# one of these tokens is NOT a sentence boundary. Case-sensitive, as
# listed; "e.g."/"i.e." are handled by a second multi-dot pattern.
# The same table is replayed verbatim in the DuckDB oracle
# (driver_queries.SQL_SPLIT_SENTENCES) — extend BOTH together.
SENTENCE_ABBREVIATIONS = (
    "Dr", "Mr", "Mrs", "Ms", "Prof", "St", "Jr", "Sr",
    "No", "Fig", "vs", "etc", "al",
)
# longest-first alternation: identical leftmost semantics in Java
# regex (Spark) and RE2 (DuckDB) regardless of backtracking
_ABBREV_ALT = "|".join(sorted(SENTENCE_ABBREVIATIONS,
                              key=len, reverse=True))
_ABBREV_RX = r"\b(" + _ABBREV_ALT + r")\."
# e.g. / i.e. — both periods protected so neither ends a sentence
_ABBREV_MULTI_RX = r"\b([ei])\.([ge])\."


def split_sentences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rule-based sentence segmentation: boundaries at ``. ! ?`` runs
    followed by whitespace (the lightweight rule used for sub-document
    processing granularity — sentence-level dedup, packing units,
    context windows). Terminal punctuation stays WITH its sentence.

    Abbreviation handling (VERDICT r04 #7): periods after the bounded
    :data:`SENTENCE_ABBREVIATIONS` table ("Dr. Smith", "vs.", "No. 7")
    and inside "e.g."/"i.e." are protected with a ``\\x01`` sentinel
    before boundary marking and restored after the split, so they
    never open a new sentence. Known residual limits, documented as
    the contract: an abbreviation that genuinely ENDS a sentence
    ("…lived on Elm St. Next day…") is protected too — the standard
    rule-based trade-off — and decimal points inside tokens still
    split when followed by whitespace. The oracle replays the exact
    same regex chain; this is a deterministic baseline, not a learned
    segmenter.

    Map-only: three regexp projections (protect -> ``\\x1e`` boundary
    sentinel -> split -> restore) + one posexplode — no shuffle.
    Columns: ``doc_id, sent_id (0-based), sentence, n_tokens``.
    """
    c = F.col(text_col)
    protected = F.regexp_replace(
        F.regexp_replace(c, _ABBREV_MULTI_RX, "$1\u0001$2\u0001"),
        _ABBREV_RX, "$1\u0001")
    marked = F.regexp_replace(protected, r"([.!?]+)\s+", "$1\u001e")
    sents = F.filter(F.split(marked, "\u001e"),
                     lambda s: F.trim(s) != "")
    out = df.select(F.col(id_col),
                    F.posexplode(sents).alias("sent_id", "_s"))
    out = (out.withColumn("sentence",
                          F.regexp_replace(F.col("_s"), "\u0001", "."))
           .drop("_s"))
    n_tok = F.size(F.filter(F.split(F.col("sentence"), r"\s+"),
                            lambda t: t != ""))
    return out.withColumn("n_tokens", n_tok)


def normalize_text_nfc(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unicode NFC normalization (the canonical-composition pass CCNet
    applies before hashing — public knowledge: decomposed sequences
    like ``e`` + COMBINING ACUTE and precomposed ``é`` must hash
    identically or every dedup/fingerprint operator silently treats
    them as different text).

    Spark has no built-in normalizer, so this is one of the few
    sanctioned Python points: the per-document map kernel
    (kernel.map_docs) over ``unicodedata.normalize`` (C-implemented,
    one call per document). The DuckDB oracle
    replays it with ``nfc_normalize`` — a genuine cross-library
    differential (CPython unicodedata vs DuckDB's utf8proc).

    Columns: ``doc_id, text`` (normalized; NULL stays NULL).
    """
    import unicodedata

    from pyspark.sql.types import StringType, StructField

    from goose_parser_spark.kernel import map_docs

    out = map_docs(
        df, lambda t: ((unicodedata.normalize("NFC", t),),),
        [StructField(text_col, StringType(), True)], id_col, text_col,
        text=True)
    return out.select(id_col, text_col)


def readability_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per document — the
    classic readability quality signals (public formulas: Flesch 1948;
    Kincaid et al. 1975), used alongside Gopher/C4 rules to filter
    training text by audience complexity.

    Deterministic rule-based counts, identical in every engine:
    - words: whitespace tokens (same tokenizer as token_count);
    - sentences: ``. ! ?`` runs (>=1 so the ratio is total);
    - syllables: per word, count of ``[aeiouy]+`` vowel groups in the
      lowercased token, min 1 — the standard heuristic (no dictionary).

    FRE  = 206.835 - 1.015*(words/sentences) - 84.6*(syllables/words)
    FKGL = 0.39*(words/sentences) + 11.8*(syllables/words) - 15.59

    Scores are emitted as integer MILLI-units (``floor(score*1000)``):
    per-document scalar IEEE arithmetic on exact integer counts is
    bit-identical across engines, and ``floor`` avoids the decimal
    round-half trap (Spark and DuckDB disagree on round(9.0875, 3) —
    observed live) — the same integer-unit discipline as lm_score /
    bm25. No cross-row float summation anywhere. Map-only: two regexp
    projections + arithmetic, no shuffle. Columns: ``doc_id, n_words,
    n_sentences, n_syllables, flesch_milli, fk_milli``.
    """
    c = F.col(text_col)
    toks = F.filter(F.split(c, r"\s+"), lambda t: t != "")
    words = F.size(toks)
    # sentence count: runs of .!? ; a doc with no terminal punctuation
    # is one sentence (min 1 keeps the ratio total)
    sents = F.greatest(
        F.size(F.regexp_extract_all(c, F.lit(r"[.!?]+"), 0)), F.lit(1))
    # syllables: vowel groups per lowercased token, min 1 per token
    syll = F.aggregate(
        toks, F.lit(0).cast("long"),
        lambda acc, t: acc + F.greatest(
            F.size(F.regexp_extract_all(F.lower(t),
                                        F.lit("[aeiouy]+"), 0)),
            F.lit(1)))
    out = df.select(
        F.col(id_col), words.alias("n_words"), sents.alias("n_sentences"),
        syll.alias("n_syllables"))
    w = F.col("n_words").cast("double")
    s = F.col("n_sentences").cast("double")
    y = F.col("n_syllables").cast("double")
    fre = (F.lit(206.835) - F.lit(1.015) * (w / s)
           - F.lit(84.6) * (y / w)) * F.lit(1000.0)
    fkgl = (F.lit(0.39) * (w / s) + F.lit(11.8) * (y / w)
            - F.lit(15.59)) * F.lit(1000.0)
    return (out.where(F.col("n_words") > 0)
            .withColumn("flesch_milli", F.floor(fre).cast("long"))
            .withColumn("fk_milli", F.floor(fkgl).cast("long")))
