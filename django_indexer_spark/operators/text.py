"""Text-analysis operators over document corpora (north-star extensions).

Everything here is deterministic, JVM-side (no Python UDFs) and therefore
oracle-checkable against DuckDB — the hashing primitive shared by both
engines is MD5 (identical hex output), used for fingerprints, minhash and
simhash (operators/dedup.py builds on ``tokenize``/``word_set``).

Scale: all operators are embarrassingly parallel per-row expressions except
where noted; they run inside whole-stage codegen and scale to 100 TB by
partition count alone.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..iterative import cut_lineage

WORD_RE = "[^a-zA-Z0-9]+"

# tiny multilingual stopword lists — heuristic language-ID evidence
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans"],
    "es": ["el", "la", "los", "y", "es", "una", "que"],
}


def tokenize(col: Column | str) -> Column:
    """Lower-cased word tokens (whitespace+punct split, empties removed)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), WORD_RE), lambda t: t != "")


def word_set(col: Column | str) -> Column:
    return F.array_distinct(tokenize(col))


def token_count(col: Column | str) -> Column:
    """Whitespace/punct token count — the 'how many training tokens' column.
    (A BPE estimate is ~= word_count * 1.3; we expose the deterministic
    word count and leave the multiplier to callers.)"""
    return F.size(tokenize(col))


def bpe_token_estimate(col: Column | str) -> Column:
    """BPE-style token-count estimate without a vocabulary — the brief's
    'BPE-ish regex' counter beside the whitespace one (token_count):

    - every alphabetic run contributes ceil(len/4) subword tokens (the
      standard ~4-chars-per-token heuristic for BPE vocabularies),
    - every digit is one token (modern tokenizers split number runs),
    - every other non-whitespace character is one token (punctuation
      rarely merges).

    Pure JVM expressions (regexp_extract_all + an integer fold), and the
    regexes avoid lookaround so Java regex and DuckDB's RE2 parse them
    identically — the estimate is engine-exact, unlike a real BPE pass
    (which needs the vocab file and a Pandas UDF)."""
    c = F.col(col) if isinstance(col, str) else col
    runs = F.regexp_extract_all(c, F.lit("[A-Za-z]+"), 0)
    subwords = F.aggregate(
        F.transform(runs, lambda w: ((F.length(w) + F.lit(3)) / F.lit(4)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    digits = F.length(F.regexp_replace(c, "[^0-9]", ""))
    punct = F.length(F.regexp_replace(c, "[A-Za-z0-9\\s]", ""))
    return (subwords + digits + punct).cast("long")


def word_ngrams(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles, space-joined.

    PERF: the ``toks`` expression is embedded inside the transform lambda
    and re-evaluated per shingle index — fine for one-shot use on short
    text, quadratic on long documents. Hot paths must tokenize into a
    materialized column first and use ``word_ngrams_from_tokens`` (see
    dedup.minhash_bands: 10× measured difference at sf0.1)."""
    toks = tokenize(col)
    return word_ngrams_from_tokens(toks, n)


def word_ngrams_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles over an (ideally pre-materialized) token array
    column. When ``toks`` is a bound column attribute, the per-index work
    is n element_at lookups + one concat — linear in document length.

    PERF: higher-order functions run OUTSIDE whole-stage codegen
    (interpreted eval), so the per-element expression cost is the whole
    game: element_at+concat measured 5× faster than the natural
    slice+concat_ws (slice allocates a boxed sub-array per shingle) on
    the sf0.1 documents corpus. Arrays shorter than n keep the old
    slice semantics (one shingle = all tokens space-joined) via a
    CASE-guarded fallback — element_at would return NULL out of bounds
    and poison the concat."""
    size = F.size(toks)

    def gram(i: Column) -> Column:
        parts: list[Column] = []
        for j in range(n):
            if j:
                parts.append(F.lit(" "))
            parts.append(F.element_at(toks, (i + 1 + j).cast("int")))
        return F.concat(*parts)

    fast = F.transform(F.sequence(F.lit(0), size - n), gram)
    short = F.transform(
        F.sequence(F.lit(0), F.greatest(size - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.when(size >= n, fast).otherwise(short)


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lower-cased text.
    Identical expression exists in DuckDB (md5), so exact-dup detection is
    oracle-checkable end to end."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.regexp_replace(F.trim(F.lower(c)), "\\s+", " "))


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, "[^a-zA-Z0-9\\s]", ""))
    return (n_punct.cast("double") / F.greatest(F.length(c), F.lit(1)).cast("double"))


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    toks = tokenize(col)
    stop = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    return n_stop.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def quality_score(col: Column | str) -> Column:
    """Composite quality heuristic in [0,1] — the Gopher-rules-shaped
    family of cheap filters (length band + mean word length band +
    stopword evidence + low punctuation noise). Deterministic; rounded to
    4 dp so the double arithmetic hashes identically cross-engine."""
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c)
    mean_wlen = F.length(F.regexp_replace(F.lower(c), WORD_RE, "")) / F.greatest(
        n_tok, F.lit(1)
    )
    score = (
        F.when((n_tok >= 5) & (n_tok <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when((mean_wlen >= 2.0) & (mean_wlen <= 12.0), F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(stopword_ratio(c) >= 0.01, F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(punct_ratio(c) <= 0.2, F.lit(0.1)).otherwise(F.lit(0.0))
    )
    return F.round(score, 4)


# --- repetition metrics (Gopher-style repetition filters) ----------------
#
# Heavily repetitive documents (boilerplate, keyword stuffing, generation
# loops) are the classic low-quality tail a corpus build removes before
# training. The standard signals are "fraction of content that is a repeat
# of itself": distinct-token ratio and the share of the document covered by
# its single most frequent word n-gram.


def repetition_metrics(df: DataFrame, id_col: str, text_col: str, n: int = 2) -> DataFrame:
    """Per-document repetition signals:

    - ``n_tokens`` / ``distinct_tokens`` — token-level duplication,
    - ``top_ngram_count`` / ``n_ngrams`` — occurrences of the most frequent
      word n-gram and the total n-gram count,
    - ``top_ngram_frac_bp`` — that share in basis points, computed with
      INTEGER division (top*10000 div total) so the value is bit-exact
      cross-engine (no double rounding at tie boundaries).

    Shape for 100 TB: the distinct ratio is a narrow per-row array op; the
    n-gram mode needs a count per (doc, gram) → two shuffles keyed on
    (doc_id, gram) then doc_id — both uniform keys, no skew beyond doc
    length itself. The per-index transform uses the materialized token
    column (word_ngrams_from_tokens), not a re-tokenizing lambda.
    Documents with fewer than n tokens have no n-grams: counts coalesce
    to 0 via the left join back onto the per-doc base."""
    toks = df.select(
        F.col(id_col), tokenize(text_col).alias("__toks")
    )
    base = toks.select(
        id_col,
        F.size("__toks").alias("n_tokens"),
        F.size(F.array_distinct("__toks")).alias("distinct_tokens"),
    )
    grams = toks.select(
        id_col,
        F.explode(word_ngrams_from_tokens(F.col("__toks"), n)).alias("gram"),
    ).filter(F.size(F.split(F.col("gram"), " ")) >= n)
    per_gram = grams.groupBy(id_col, "gram").count()
    per_doc = per_gram.groupBy(id_col).agg(
        F.max("count").alias("top_ngram_count"),
        F.sum("count").alias("n_ngrams"),
    )
    return (
        base.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("distinct_tokens").cast("long").alias("distinct_tokens"),
            F.coalesce("top_ngram_count", F.lit(0)).cast("long").alias("top_ngram_count"),
            F.coalesce("n_ngrams", F.lit(0)).cast("long").alias("n_ngrams"),
            F.coalesce(
                F.expr("top_ngram_count * 10000 div n_ngrams"), F.lit(0)
            ).cast("long").alias("top_ngram_frac_bp"),
        )
    )


def _shared_dup_windows(
    df: DataFrame, id_col: str, text_col: str, n: int, min_docs: int
):
    """Shared-window detection common to BOTH halves of exact-substring
    dedup — dup_span_coverage (measurement) and dedup_spans_removed
    (surgery): tokenize, posexplode word n-gram windows keyed by md5,
    document-frequency filter (>= min_docs), shuffle-hash semi-join back.
    One definition on purpose: the halves must agree bit-for-bit for the
    tested invariant n_tokens - kept_tokens == dup_tokens to hold.

    Returns (toks_df, dup): the (id, __toks, n_tokens) frame and the
    surviving (id, pos, h) duplicated windows.

    ``wins`` is consumed twice (df aggregate + semi-join left) and IS
    recomputed twice: the aggregate's exchange carries partially-
    aggregated rows so the join can't reuse it, and forcing a shared
    repartition(h) doesn't help (the optimizer collapses it on the join
    side — different ShuffleOrigin, no ReuseExchange; measured no-op at
    sf0.1). Persisting |windows| ≈ |corpus tokens| is the memory-unsafe
    option at 100 TB; one extra tokenize+explode scan is the documented
    price of staying streaming-safe. The semi-join is shuffle-hash on
    purpose: the shared-window set grows with the corpus (every
    boilerplate n-gram lands in it), so it must never be a driver-sized
    broadcast; the join key is the uniform md5, so the shuffle is
    skew-free."""
    toks_df = df.select(
        F.col(id_col), tokenize(text_col).alias("__toks")
    ).withColumn("n_tokens", F.size("__toks").cast("long"))
    wins = (
        toks_df.filter(F.col("n_tokens") >= n)
        .select(
            id_col,
            F.posexplode(word_ngrams_from_tokens(F.col("__toks"), n)).alias(
                "pos", "gram"
            ),
        )
        .select(id_col, "pos", F.md5(F.col("gram")).alias("h"))
    )
    shared = (
        wins.groupBy("h")
        .agg(F.count_distinct(F.col(id_col)).alias("ndocs"))
        .filter(F.col("ndocs") >= min_docs)
        .select("h")
    )
    dup = wins.join(shared.hint("shuffle_hash"), "h", "left_semi")
    return toks_df, dup


def dup_span_coverage(
    df: DataFrame, id_col: str, text_col: str, n: int = 8, min_docs: int = 2
) -> DataFrame:
    """Exact-substring duplication coverage — the per-document metric behind
    suffix-array exact dedup (Lee et al. 2022, arXiv:2107.06499): what
    fraction of a document's tokens sits inside a token n-gram that also
    appears verbatim in at least ``min_docs - 1`` OTHER documents.

    Spark shape (the scalable stand-in for a distributed suffix array):
    1. window generation — posexplode of the materialized token array's
       n-grams; pos is the window start, md5(gram) the window key;
    2. document frequency — groupBy(h) count_distinct(doc): ONE shuffle on
       a uniform 128-bit key; windows with df >= min_docs are 'shared';
    3. left-semi join wins→shared on h (uniform key again);
    4. per-doc interval union of the surviving [pos, pos+n) windows via a
       running max(pos+n) over the doc-partitioned pos-ordered window —
       partitions are bounded by single-document length, never corpus
       size, so the WindowExec is skew-safe at 100 TB;
    5. dup_tokens = union length; dup_frac = dup_tokens / n_tokens.

    Returns (id, n_tokens, dup_tokens, dup_frac) for every input doc
    (docs shorter than n tokens have dup_tokens = 0)."""
    toks_df, dup = _shared_dup_windows(df, id_col, text_col, n, min_docs)
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    covered = F.greatest(
        F.lit(0),
        F.col("pos")
        + n
        - F.greatest(
            F.col("pos"), F.coalesce(F.max(F.col("pos") + n).over(w), F.col("pos"))
        ),
    )
    per_doc = (
        dup.withColumn("covered", covered)
        .groupBy(id_col)
        .agg(F.sum("covered").cast("long").alias("dup_tokens"))
    )
    return (
        toks_df.select(id_col, "n_tokens")
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.when(
                F.col("n_tokens") > 0,
                F.round(
                    F.coalesce("dup_tokens", F.lit(0)).cast("double")
                    / F.col("n_tokens"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


def dedup_spans_removed(
    df: DataFrame, id_col: str, text_col: str, n: int = 8, min_docs: int = 2
) -> DataFrame:
    """The surgery half of exact-substring dedup (dup_span_coverage is the
    measurement half): re-emit every document with the tokens covered by
    cross-document n-gram windows REMOVED — Lee et al. 2022's "drop the
    repeated substring, keep the rest" applied at token granularity.

    Shape: shared-window detection as in dup_span_coverage, then each
    surviving window explodes to its n covered positions (bounded n×
    fan-out of the DUPLICATED windows only), DISTINCT(doc, pos) dedups
    the overlaps, and a left-anti join against the posexploded tokens
    keeps the clean positions. Reassembly is one per-doc aggregate
    (array_sort of (pos, tok) structs → concat) — partitions bounded by
    single-document length. Every join key is (doc, pos) or doc: uniform,
    never corpus-wide.

    Returns (id, n_tokens, kept_tokens, cleaned_text); a fully-covered
    doc comes back with kept_tokens = 0 and empty text (callers usually
    drop those rows — that decision is theirs)."""
    toks_df, dup = _shared_dup_windows(df, id_col, text_col, n, min_docs)
    covered = dup.select(
        id_col,
        F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))).alias("tpos"),
    ).distinct()
    tok_pos = toks_df.select(
        id_col, F.posexplode("__toks").alias("tpos", "tok")
    )
    kept = tok_pos.join(covered, [id_col, "tpos"], "left_anti")
    agg = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("kept_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("cleaned_text"),
    )
    return (
        toks_df.select(id_col, "n_tokens")
        .join(agg, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("kept_tokens", F.lit(0)).cast("long").alias("kept_tokens"),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
    )


# --- PII detection / redaction --------------------------------------------
#
# Regexes are deliberately conservative and chosen to parse identically
# under Java regex (Spark) and RE2 (DuckDB oracle): no backreferences, no
# lookaround. A production scrubber adds NER models downstream; this is
# the cheap JVM-side first pass that runs on all 100 TB.

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}(\.\d{1,3}){3}\b"
PII_PHONE_RE = r"\+\d{7,15}"


def pii_counts(col: Column | str) -> tuple[Column, Column, Column]:
    """(n_emails, n_ips, n_phones) match counts for a text column."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.regexp_count(c, F.lit(PII_EMAIL_RE)),
        F.regexp_count(c, F.lit(PII_IPV4_RE)),
        F.regexp_count(c, F.lit(PII_PHONE_RE)),
    )


def scrub_pii(col: Column | str) -> Column:
    """Redact emails → [EMAIL], IPv4s → [IP], then phone numbers →
    [PHONE]. Email runs first (its local part may contain digits/dots the
    narrower patterns would mangle); the phone pattern needs 7+ contiguous
    digits so it can never re-match inside a redacted IP (octets ≤ 3
    digits)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, PII_EMAIL_RE, "[EMAIL]")
    c = F.regexp_replace(c, PII_IPV4_RE, "[IP]")
    return F.regexp_replace(c, PII_PHONE_RE, "[PHONE]")


def vocab_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Corpus vocabulary table: one row per distinct token with

      (token, n_occurrences, n_docs)

    — the input to tokenizer training (BPE seed vocab / merges start from
    exactly this table), OOV-rate studies and frequency-based filtering.

    Scale: explode → one groupBy(token). n_occurrences partial-aggregates
    map-side; n_docs is a distinct-per-group which Spark expands to a
    two-phase (token, doc) partial distinct — still uniform-keyed. Zipf
    head tokens ('the') are heavy but a single group never exceeds one
    reducer's combine buffer since map-side partials collapse each
    partition to one row per token first."""
    toks = df.select(F.col(id_col).alias("__doc"), F.explode(tokenize(text_col)).alias("token"))
    return toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("__doc").alias("n_docs"),
    )


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: script ranges first (CJK / diacritics), then
    stopword-list hit counts; falls back to 'en'. Deterministic CASE chain —
    a real model would be a pandas_udf, but the engine keeps the cheap
    pre-filter JVM-side (this is the 100 TB first-pass)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokenize(c)

    def hits(lang: str) -> Column:
        stop = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        return F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))

    de, fr, es = hits("de"), hits("fr"), hits("es")
    return (
        F.when(c.rlike("[\\u4e00-\\u9fff]"), F.lit("zh"))
        .when(c.rlike("[äöüßÄÖÜ]") | ((de > fr) & (de > es) & (de > 0)), F.lit("de"))
        .when((fr > es) & (fr > 0), F.lit("fr"))
        .when(es > 0, F.lit("es"))
        .otherwise(F.lit("en"))
    )


def lm_quality(df: DataFrame, id_col: str, text_col: str, round_digits: int = 9) -> DataFrame:
    """Unigram-LM quality score per document: bits-per-token cross-entropy
    against the corpus's own unigram distribution,

        bpt = avg over tokens t of  -log2( count(t) / N )

    — the cheap stand-in for the CCNet/Gopher LM-perplexity filter signal
    (docs of common tokens score low bits; rare-token gibberish scores
    high). Self-referential: the model IS the corpus vocab table, so no
    external artifact ships.

    Shape for 100 TB: one vocab groupBy (map-side partial), broadcast of
    the 1-row total, then a token→vocab equi-join + per-doc avg — the same
    bounded join shape as decontamination, never doc×doc. Exactness: the
    only libm call is log2 of exact integer-valued doubles
    (avg(log2 N - log2 c_t)); outputs rounded to ``round_digits``.
    """
    toks = df.select(F.col(id_col).alias("__doc"), F.explode(tokenize(text_col)).alias("token"))
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("__c"))
    total = toks.agg(F.count(F.lit(1)).alias("__N"))
    bits = F.log2(F.col("__N").cast("double")) - F.log2(F.col("__c").cast("double"))
    # decimal-exact accumulation: the vocab join scatters a doc's tokens
    # across token-partitions, so a double sum would be order-dependent
    bits_dec = bits.cast("decimal(38,18)")
    return (
        toks.join(vocab, "token")
        .crossJoin(F.broadcast(total))
        .groupBy(F.col("__doc").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(
                F.sum(bits_dec).cast("double") / F.count(F.lit(1)), round_digits
            ).alias("bits_per_token"),
        )
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    round_digits: int = 9,
) -> DataFrame:
    """BM25 relevance of every document to a bag of ``query_terms`` — the
    classic retrieval scorer (and the dense-retrieval baseline next to
    similarity.cosine_topk):

        score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
        idf(t)   = ln(1 + (N − df + 0.5)/(df + 0.5))

    Only documents matching ≥1 term are returned.

    Shape for 100 TB: the token stream filters to the query terms BEFORE
    any shuffle (a few-term IN-list the scan pushes down), so the grouped
    tf/df aggregates and the final per-doc sum all run over the matching
    slice only; doc lengths are a narrow map joined back on the doc key,
    avgdl/N is a broadcast 1-row aggregate. All inputs to the double math
    are exact integer-valued, so the expression tree evaluates identically
    cross-engine; outputs rounded to ``round_digits``."""
    terms = [t.lower() for t in query_terms]
    lens = df.select(
        F.col(id_col).alias("__doc"), F.size(tokenize(text_col)).alias("__dl")
    )
    # avgdl from an exact long sum (engine-identical double division)
    stats = lens.agg(
        F.count(F.lit(1)).alias("__N"),
        (F.sum("__dl").cast("double") / F.count(F.lit(1))).alias("__avgdl"),
    )
    toks = df.select(
        F.col(id_col).alias("__doc"), F.explode(tokenize(text_col)).alias("token")
    ).filter(F.col("token").isin(terms))
    tf = toks.groupBy("__doc", "token").agg(F.count(F.lit(1)).alias("__tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("__df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("__N") - F.col("__df") + F.lit(0.5)) / (F.col("__df") + F.lit(0.5))
    )
    denom = F.col("__tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("__dl") / F.col("__avgdl")
    )
    # decimal-exact per-doc sum — term order after the shuffles is
    # nondeterministic, double summation would be order-dependent
    term_score = (idf * (F.col("__tf") * F.lit(k1 + 1.0)) / denom).cast("decimal(38,18)")
    return (
        tf.join(dfreq, "token")
        .join(lens, "__doc")
        .crossJoin(F.broadcast(stats))
        .groupBy(F.col("__doc").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matched_terms"),
            F.round(F.sum(term_score).cast("double"), round_digits).alias("bm25"),
        )
    )


def vocab_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab_size: int = 100,
    unk_id: int | None = None,
) -> DataFrame:
    """Tokenizer encode step: map each document's token stream to integer
    ids through a corpus-derived vocabulary — the transform between
    vocab_stats (tokenizer training) and sampling.pack_sequences
    (sequence building).

    Vocabulary: top-``vocab_size`` tokens by occurrence (ties → token
    asc), ids 0..V-1 in that order; OOV → ``unk_id`` (default V). The
    top-V cut is TakeOrdered (never a global sort) and id assignment is a
    window over the ALREADY-BOUNDED V rows; the vocab then broadcast-joins
    the exploded (doc, pos, token) stream — the corpus side never
    reshuffles for the lookup. Reassembly sorts each doc's collected
    (pos, id) structs, so the id array is order-exact regardless of
    collect_list's partition order.

    Returns (id_col, token_ids array<long>)."""
    unk = vocab_size if unk_id is None else unk_id
    toks = df.select(
        F.col(id_col), F.posexplode(tokenize(text_col)).alias("pos", "tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__n"))
    topv = counts.orderBy(F.desc("__n"), F.asc("tok")).limit(vocab_size)
    w = Window.orderBy(F.desc("__n"), F.asc("tok"))
    vocab = topv.select(
        "tok", (F.row_number().over(w) - 1).cast("long").alias("tok_id")
    )
    enc = toks.join(F.broadcast(vocab), "tok", "left").select(
        F.col(id_col),
        "pos",
        F.coalesce("tok_id", F.lit(unk)).cast("long").alias("tid"),
    )
    return enc.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tid"))),
            lambda x: x["tid"],
        ).alias("token_ids")
    )


def chunk_overlap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 64,
    step: int = 48,
) -> DataFrame:
    """RAG-style chunker: each document's token stream becomes overlapping
    windows of ``window`` tokens starting every ``step`` (overlap =
    window − step; the last chunk may be short). Pure per-row explode —
    token arrays never leave their row until the final chunk projection,
    so there is NO shuffle at all: chunking 100 TB is a map-only job
    whose output feeds the embedding stage (similarity family).

    Returns (id, chunk_idx, n_chunk_tokens, chunk_text); zero-token
    documents produce no chunks."""
    toks = df.select(
        F.col(id_col), tokenize(text_col).alias("__toks")
    ).withColumn("__n", F.size("__toks"))
    chunks = toks.filter(F.col("__n") > 0).select(
        id_col,
        F.explode(
            F.expr(
                f"transform(sequence(0, __n - 1, {step}), "
                f"st -> struct(st, slice(__toks, st + 1, {window}) AS ck))"
            )
        ).alias("c"),
    )
    return chunks.select(
        id_col,
        (F.col("c.st") / step).cast("long").alias("chunk_idx"),
        F.size("c.ck").cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", "c.ck").alias("chunk_text"),
    )


# bounded FIFO of pinned word-frequency tables (same lazy-return cache
# ownership as dedup._SIG_CACHE — see django_indexer_spark.caching)
from ..caching import BoundedFrameCache

_BPE_VOCAB_CACHE = BoundedFrameCache(slots=4)


def bpe_train_merges(
    df: DataFrame, text_col: str, rounds: int = 3
) -> DataFrame:
    """Distributed BPE tokenizer training: learn the first ``rounds``
    merge rules from a corpus → (merge_round, left_tok, right_tok,
    pair_count).

    The production-shaping trick is the WORD-FREQUENCY table (Sennrich et
    al. 2016 do the same): the corpus is scanned ONCE to count distinct
    lowercase a-z words; every merge round then operates on that
    vocab-bounded frame (≤ a few million rows no matter the corpus) with
    pair counts weighted by word frequency. Corpus-size work is one
    pass; rounds cost O(vocab).

    Each round is fully declarative — no driver loop, no collect: the
    round's best pair is a 1-row frame (TakeOrdered by count DESC, then
    (left, right) ASC for determinism), crossJoin-broadcast back to
    rewrite the per-word tokenization for the next round. The chain of
    ``rounds`` rounds is one static DAG.

    Tokenizations ride along as delimiter strings ('|t|h|e|'); a merge
    rewrites '|l|r|' → '|lr|'. The rewrite applies a single
    left-to-right replace THREE times (bounded fixpoint): one pass
    consumes the shared delimiter, so runs of the merged pair ('aaaa'
    with merge a+a) need a re-scan — three passes converge for any word
    ≤ ~16 repeats (beyond that the word UNDER-merges: leftover adjacent
    pairs survive the round — see the property test; exact-path
    comparison in bpe_train_merges_local has no such cap), and the
    semantics are engine-portable (SQL replace = same leftmost
    non-overlapping scan), so the DuckDB oracle replays the rounds
    exactly. Words are restricted to [a-z]+ so the delimiter can never
    occur in a token.

    Lineage: ``form`` is localCheckpointed every 8 rounds (same
    iterative-lineage rule as graph.py's loops — round-5 verdict #2:
    without it the chain of rounds is ONE static DAG and plan analysis
    goes superlinear past ~5 rounds). That keeps this declarative,
    oracle-replayable path usable to a few hundred rounds; for
    production vocab sizes (32k merges) use bpe_train_merges_local,
    which does the same ONE distributed corpus pass and then runs the
    merge loop driver-side over the vocab-bounded word table."""
    from pyspark import StorageLevel

    words = (
        df.select(
            F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wf"))
        # persist: every round's pair count AND every round's best-pair
        # subplan re-reference the word table; without the cache the
        # CORPUS pass would re-run O(rounds^2) times. The frame is
        # vocab-bounded (distinct words, not corpus rows), so pinning it
        # is safe at any corpus size — this is exactly the word-frequency
        # compaction that makes BPE training tractable. Lazy-return cache
        # ownership goes to the shared bounded FIFO (caching module).
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _BPE_VOCAB_CACHE.pin(words)
    form = words.select(
        F.concat(
            F.regexp_replace(F.col("w"), "(.)", r"|$1"), F.lit("|")
        ).alias("form"),
        "wf",
    )

    _, best_rows = _bpe_round_chain(form, rounds)
    out = best_rows[0]
    for b in best_rows[1:]:
        out = out.unionByName(b)
    return out


def _bpe_round_chain(
    form: DataFrame, rounds: int, rewrite_last: bool = False
) -> tuple[DataFrame, list[DataFrame]]:
    """Shared declarative merge-round chain over a delimiter-form frame.

    ``form`` needs columns ``form`` (the '|c|h|a|r|' tokenization) and
    ``wf`` (word frequency); any OTHER columns are riders that survive
    each rewrite untouched (``bpe_vocab_tokenize`` rides the raw word
    through so the encoded vocab can be joined back to occurrences).
    Pair counting selects only (form, wf), so riders never widen the
    per-round shuffles. With ``rewrite_last`` the final learned merge is
    also APPLIED (encoding wants all ``rounds`` rewrites; training only
    needs the rewrites BETWEEN rounds). Returns the post-chain form frame
    and the per-round 1-row best-merge frames."""
    riders = [c for c in form.columns if c != "form"]
    pair_struct = (
        "transform(sequence(1, size(__toks) - 1), "
        "i -> struct(element_at(__toks, i) AS l, element_at(__toks, i + 1) AS r))"
    )
    best_rows: list[DataFrame] = []
    for rnd in range(1, rounds + 1):
        toks = form.select(
            F.filter(F.split("form", "\\|"), lambda x: x != "").alias("__toks"),
            "wf",
        )
        pairs = (
            toks.filter(F.size("__toks") >= 2)
            .select(F.explode(F.expr(pair_struct)).alias("p"), "wf")
            .groupBy(F.col("p.l").alias("left_tok"), F.col("p.r").alias("right_tok"))
            .agg(F.sum("wf").cast("long").alias("pair_count"))
        )
        best = (
            pairs.orderBy(F.desc("pair_count"), "left_tok", "right_tok")
            .limit(1)
            .select(
                F.lit(rnd).cast("long").alias("merge_round"),
                "left_tok",
                "right_tok",
                "pair_count",
            )
        )
        best_rows.append(best)
        if rnd < rounds or rewrite_last:
            pat = F.concat(
                F.lit("|"), F.col("left_tok"), F.lit("|"), F.col("right_tok"), F.lit("|")
            )
            rep = F.concat(F.lit("|"), F.col("left_tok"), F.col("right_tok"), F.lit("|"))
            merged = F.replace(F.replace(F.replace(F.col("form"), pat, rep), pat, rep), pat, rep)
            form = form.crossJoin(F.broadcast(best)).select(
                merged.alias("form"), *riders
            )
            # cut lineage every 8 rounds: materialize the (vocab-bounded)
            # form table and start a fresh plan, so analysis cost stays
            # linear in rounds instead of superlinear in the unrolled
            # DAG (iterative.cut_lineage: reliable df.checkpoint when a
            # checkpoint dir is configured, localCheckpoint otherwise).
            if rnd % 8 == 0:
                from ..iterative import cut_lineage

                form = cut_lineage(form)
    return form, best_rows


def bpe_vocab_tokenize(df: DataFrame, text_col: str, rounds: int = 3) -> DataFrame:
    """ENCODE with the trained tokenizer: learn the first ``rounds`` BPE
    merges from the corpus (identical chain, tie-breaks, and bounded
    triple-replace fixpoint as ``bpe_train_merges``) and return the
    encoded VOCAB — (w, wf, n_bpe_tokens, bpe_tokens space-joined).

    This is the production encode shape for token BUDGETING at corpus
    scale: the corpus is scanned once to build the word-frequency table,
    all ``rounds`` rewrites run over that vocab-bounded frame (cost ∝
    distinct words, NOT corpus rows), and callers map occurrences to
    token counts with one join on the word — see the
    ``text_bpe_encode`` gate. Real tokenizers cache exactly this
    word→tokens table (Sennrich et al. 2016's apply step)."""
    from pyspark import StorageLevel

    words = (
        df.select(
            F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wf"))
        # same vocab-bounded persist rationale as bpe_train_merges
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _BPE_VOCAB_CACHE.pin(words)
    form = words.select(
        "w",
        F.concat(
            F.regexp_replace(F.col("w"), "(.)", r"|$1"), F.lit("|")
        ).alias("form"),
        "wf",
    )
    encoded, _ = _bpe_round_chain(form, rounds, rewrite_last=True)
    toks = F.filter(F.split("form", "\\|"), lambda x: x != "")
    return encoded.select(
        "w",
        F.col("wf").cast("long").alias("wf"),
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.concat_ws(" ", toks).alias("bpe_tokens"),
    )


def bpe_train_merges_local(
    df: DataFrame, text_col: str, rounds: int, max_vocab: int | None = None
) -> DataFrame:
    """BPE training at production merge counts (32k rounds): the SAME
    single distributed corpus pass as bpe_train_merges — explode to
    lowercase [a-z]+ words, count — then the merge loop runs
    driver-side over the collected word-frequency table, exactly as
    every published BPE trainer does (Sennrich et al. 2016 operate on
    word counts, never the corpus). The distributed part touches every
    byte ONCE; the driver part is vocab-bounded (distinct words, not
    corpus rows — ~10⁶ rows ≈ tens of MB at any corpus size, and
    ``max_vocab`` caps the collect hard by keeping the most frequent
    words, the standard truncation real trainers apply).

    The loop operates on token LISTS (one leftmost non-overlapping
    scan per word per round), so unlike the declarative path's
    triple-replace there is NO under-merge cap for words with >16
    repeats of a pair. Tie-break matches bpe_train_merges exactly:
    count DESC, then (left, right) ASC — on any corpus where no word
    exceeds the repeat cap, the first N merges of both paths are
    identical (asserted in tests).

    SCALE BOUNDARY — ``max_vocab`` is REQUIRED at corpus scale: the
    driver-side ``.collect()`` below is bounded only by the number of
    DISTINCT words, and a 100 TB web corpus's distinct-[a-z]+-word set
    (typos, concatenations, romanized text) is NOT tens of MB — it can
    be billions of rows. ``max_vocab=None`` exists for tests and for
    corpora whose vocabulary is known-bounded (it is the
    oracle-comparison twin of the declarative path); production
    training MUST pass a cap (10⁵–10⁶ is the published norm — truncated
    tails contribute no competitive pair counts). A None cap warns
    rather than raises so the verification twin stays usable.

    Returns (merge_round, left_tok, right_tok, pair_count) — same
    schema as bpe_train_merges."""
    words_df = (
        df.select(
            F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wf"))
    )
    if max_vocab is None:
        import warnings

        warnings.warn(
            "bpe_train_merges_local(max_vocab=None) collects the FULL "
            "distinct-word table to the driver — unbounded on large "
            "corpora. Pass max_vocab (e.g. 100_000) for production "
            "training; None is intended for tests/verification only.",
            ResourceWarning,
            stacklevel=2,
        )
    else:
        words_df = words_df.orderBy(F.desc("wf"), F.asc("w")).limit(max_vocab)
    vocab: list[tuple[list[str], int]] = [
        (list(r["w"]), r["wf"]) for r in words_df.collect()
    ]

    merges: list[tuple[int, str, str, int]] = []
    for rnd in range(1, rounds + 1):
        counts: dict[tuple[str, str], int] = {}
        for toks, wf in vocab:
            for i in range(len(toks) - 1):
                p = (toks[i], toks[i + 1])
                counts[p] = counts.get(p, 0) + wf
        if not counts:
            break  # every word fully merged — nothing left to learn
        (left, right), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rnd, left, right, n))
        joined = left + right
        for idx, (toks, wf) in enumerate(vocab):
            out: list[str] = []
            i = 0
            m = len(toks)
            while i < m:
                if i + 1 < m and toks[i] == left and toks[i + 1] == right:
                    out.append(joined)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            vocab[idx] = (out, wf)

    spark = df.sparkSession
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("merge_round", T.LongType()),
            T.StructField("left_tok", T.StringType()),
            T.StructField("right_tok", T.StringType()),
            T.StructField("pair_count", T.LongType()),
        ]
    )
    return spark.createDataFrame(merges, schema)


def inverted_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 1,
    postings_cap: int | None = None,
) -> DataFrame:
    """Build an inverted index: term → (df_docs, cf, postings) where
    postings are (doc, tf) pairs ordered tf DESC then doc ASC — the
    classic retrieval structure behind bm25_scores' df/tf stats, made
    first-class (the reference's nearest analog is the search filter
    ilike scan in accounts/api.py — a full-table scan this replaces).

    Two shuffles, both key-uniform: (term, doc) for tf, then term for
    the posting merge. ``postings_cap`` bounds each stored list (impact-
    ordered index truncation — at corpus scale full lists for stopword
    terms are the one skew hazard, so production callers cap); df_docs
    and cf are computed BEFORE the cap, so stats stay exact. collect_list
    here is per-TERM state sized ≤ cap (or ≤ corpus doc count uncapped) —
    bounded by construction, not a driver collect."""
    tf = (
        df.select(F.col(id_col).alias("__doc"), F.explode(tokenize(text_col)).alias("term"))
        .groupBy("term", "__doc")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    postings = F.array_sort(
        F.collect_list(F.struct((-F.col("tf")).alias("neg_tf"), F.col("__doc").alias("doc")))
    )
    if postings_cap is not None:
        postings = F.slice(postings, 1, postings_cap)
    out = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df_docs"),
        F.sum("tf").cast("long").alias("cf"),
        F.transform(
            postings, lambda p: F.struct(p["doc"].alias("doc"), (-p["neg_tf"]).alias("tf"))
        ).alias("postings"),
    )
    if min_df > 1:
        out = out.filter(F.col("df_docs") >= min_df)
    return out


def tfidf_topk(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, dp: int = 6
) -> DataFrame:
    """Top-k keywords per document by TF-IDF (tf · ln(N/df)) — the
    classic keyword extractor beside bm25_scores (which ranks DOCS for a
    query; this ranks TERMS within a doc). Returns (id, term, tfidf,
    rk), rk 1..k ordered score DESC then term ASC.

    Determinism: tf and df are exact longs; ln() is the one
    engine-library call — its double is pinned with the portable dp
    rounding immediately after the multiply, and rank ties (equal
    (tf, df)) break on the term string, so the cross-engine risk
    surface is a score landing within one ulp of a half at 10^-dp —
    probed green on the fixtures at every sf. Two uniform-key shuffles
    ((doc,term) then term), window per doc; N is a broadcast scalar."""
    from pyspark.sql.window import Window

    tf = (
        df.select(F.col(id_col).alias("__doc"), F.explode(tokenize(text_col)).alias("term"))
        .groupBy("__doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    n_docs = df.select(F.countDistinct(id_col).alias("__n"))
    pow10 = float(10**dp)
    score = F.floor(
        F.col("tf").cast("double")
        * F.log(F.col("__n").cast("double") / F.col("df_docs").cast("double"))
        * F.lit(pow10)
        + F.lit(0.5)
    ) / F.lit(pow10)
    w = Window.partitionBy("__doc").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", score)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            F.col("__doc").alias(id_col),
            "term",
            "tfidf",
            F.col("rk").cast("long").alias("rk"),
        )
    )


def token_entropy(df: DataFrame, id_col: str, text_col: str, dp: int = 6) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (nats):
    H = -Σ pᵢ·ln(pᵢ) over the doc's token frequencies. Low entropy
    means repetitive/templated text (the information-theoretic summary
    of what repetition_metrics measures piecewise) — a standard
    pretraining quality signal next to quality_score and lm_quality.

    Determinism: pᵢ = tf/n is an exact double ratio of longs (identical
    IEEE division on any engine); each ln() term is pinned with the
    portable dp rounding BEFORE the decimal fold, so the per-doc sum is
    order-independent and engine-exact. One (doc,term) shuffle + one
    doc shuffle, both uniform keys; nothing global."""
    tf = (
        df.select(
            F.col(id_col).alias("__doc"), F.explode(tokenize(text_col)).alias("term")
        )
        .groupBy("__doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    pow10 = float(10**dp)
    p = F.col("tf").cast("double") / F.col("__n").cast("double")
    term_h = (
        F.floor(-(p * F.log(p)) * F.lit(pow10) + F.lit(0.5)) / F.lit(pow10)
    ).cast(f"decimal(28,{dp})")
    n = Window.partitionBy("__doc")
    return (
        tf.withColumn("__n", F.sum("tf").over(n))
        .groupBy("__doc")
        .agg(
            F.sum(term_h).cast("double").alias("entropy_nats"),
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.min("__n").alias("n_tokens"),
        )
        .select(
            F.col("__doc").alias(id_col),
            "entropy_nats",
            "n_distinct_tokens",
            F.col("n_tokens").cast("long").alias("n_tokens"),
        )
    )


def zipf_fit(
    df: DataFrame,
    text_col: str,
    max_terms: int = 1000,
    dp: int = 6,
) -> DataFrame:
    """Zipf rank-frequency power-law fit over the corpus vocabulary:
    OLS of ln(freq) on ln(rank) over the top ``max_terms`` terms.
    Natural language sits near slope −1; templated or synthetic text
    drifts flat — a one-row corpus health check next to the per-doc
    quality family.

    Scale design: ONE (term) count shuffle (map-side combined), then
    ``orderBy().limit(max_terms)`` compiles to TakeOrderedAndProject —
    the only sort state anywhere is the per-task top-k heap — and the
    rank window + regression run over the ≤max_terms-row head
    (bounded single partition by construction, same rule as
    ranked_topk). Rank ties break on the term string, so the fit is
    order-deterministic.

    Determinism: x = ln(rank), y = ln(freq) are pinned ``dp`` dp;
    centered products fold as DECIMAL(38,6); slope/intercept/r² derive
    from the five folded scalars in double, pinned. r² = Sxy²/(Sxx·Syy)."""
    pow10 = float(10**dp)

    def _pin(c: Column) -> Column:
        return F.floor(c * F.lit(pow10) + F.lit(0.5)) / F.lit(pow10)

    counts = (
        df.select(F.explode(tokenize(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    head = counts.orderBy(F.col("c").desc(), F.col("term").asc()).limit(
        max_terms
    )
    w = Window.orderBy(F.col("c").desc(), F.col("term").asc())
    xy = head.select(
        _pin(F.log(F.row_number().over(w).cast("double"))).alias("__x"),
        _pin(F.log(F.col("c").cast("double"))).alias("__y"),
    )
    m = xy.agg(
        F.count(F.lit(1)).alias("__n"),
        _pin(
            F.sum(F.col("__x").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("__mx"),
        _pin(
            F.sum(F.col("__y").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("__my"),
    )
    dx = F.col("__x") - F.col("__mx")
    dy = F.col("__y") - F.col("__my")
    folds = xy.crossJoin(F.broadcast(m)).agg(
        F.min("__n").cast("long").alias("n_terms"),
        F.sum(_pin(dx * dy).cast("decimal(38,6)")).cast("double").alias("__sxy"),
        F.sum(_pin(dx * dx).cast("decimal(38,6)")).cast("double").alias("__sxx"),
        F.sum(_pin(dy * dy).cast("decimal(38,6)")).cast("double").alias("__syy"),
        F.min("__mx").alias("__mx"),
        F.min("__my").alias("__my"),
    )
    slope = F.col("__sxy") / F.col("__sxx")
    return folds.filter(F.col("__sxx") > 0).select(
        "n_terms",
        _pin(slope).alias("slope"),
        _pin(F.col("__my") - slope * F.col("__mx")).alias("intercept"),
        _pin(
            F.col("__sxy") * F.col("__sxy") / (F.col("__sxx") * F.col("__syy"))
        ).alias("r2"),
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str,
    cutoffs: tuple[int, ...] = (10, 100, 1000),
    dp: int = 6,
) -> DataFrame:
    """Vocabulary coverage curve: for each cutoff k, what fraction of
    ALL token occurrences the k most frequent terms cover — the
    tokenizer-sizing readout (how big a word vocabulary must be before
    <unk> is rare) and the companion of zipf_fit's shape parameter.
    Output one row per cutoff: (cutoff, n_terms, coverage) where
    n_terms ≤ cutoff is how many distinct terms actually exist.

    Scale design: ONE term-count shuffle (map-side combined); the
    max(cutoffs) head comes off a TakeOrderedAndProject top-k heap —
    the vocabulary is NEVER globally sorted — and the running-sum
    window + cutoff explode run over the ≤max(cutoffs)-row head
    (bounded single partition by construction, same rule as zipf_fit).
    The corpus total folds separately as DECIMAL(38,0) and broadcasts.

    Determinism: counts and the running sum are exact integers;
    coverage = cum/total is the only float, pinned ``dp`` dp. Rank
    ties break on the term string."""
    pow10 = float(10**dp)
    kmax = max(cutoffs)
    counts = (
        df.select(F.explode(tokenize(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = counts.agg(
        F.sum(F.col("c").cast("decimal(38,0)")).alias("__total")
    )
    head = counts.orderBy(F.col("c").desc(), F.col("term").asc()).limit(kmax)
    w = (
        Window.orderBy(F.col("c").desc(), F.col("term").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wr = Window.orderBy(F.col("c").desc(), F.col("term").asc())
    ranked = head.select(
        F.row_number().over(wr).alias("__r"),
        F.sum(F.col("c").cast("decimal(38,0)")).over(w).alias("__cum"),
    )
    cuts = F.array(*[F.lit(k) for k in sorted(cutoffs)])
    per_cut = ranked.select(
        "__r", "__cum", F.explode(cuts).alias("cutoff")
    ).filter(F.col("__r") <= F.col("cutoff"))
    agg = per_cut.groupBy("cutoff").agg(
        F.max("__r").cast("long").alias("n_terms"),
        F.max("__cum").alias("__cov"),
    )
    return agg.crossJoin(F.broadcast(total)).select(
        F.col("cutoff").cast("long").alias("cutoff"),
        "n_terms",
        (
            F.floor(
                F.col("__cov").cast("double")
                / F.col("__total").cast("double")
                * F.lit(pow10)
                + F.lit(0.5)
            )
            / F.lit(pow10)
        ).alias("coverage"),
    )


def pmi_bigrams(
    df: DataFrame,
    text_col: str,
    min_pair_count: int = 3,
    top_k: int = 50,
    dp: int = 6,
) -> DataFrame:
    """Collocation mining: top-k adjacent-token bigrams by pointwise
    mutual information — "which word pairs co-occur far more than
    chance" (PMI = ln(P(xy) / (P(x)·P(y)))), the corpus-analysis
    primitive behind phrase detection and tokenizer-merge candidates.

    Distributed shape: ONE tokenize pass explodes each document to its
    adjacent pairs (transform over 0..n−2, Spark arrays are 0-indexed
    in SQL bracket syntax); unigram and bigram counts are two grouped
    partial aggregations off that same scan lineage; the two 1-row
    grand totals broadcast; the final top-k is a TakeOrdered (PMI
    DESC, then the pair) — never a global sort. State ∝ vocabulary and
    surviving pairs, not corpus size; ``min_pair_count`` kills the
    hapax tail before the ln ever runs (and keeps PMI's low-count
    noise out of the gate).

    Cross-engine exactness: counts stay BIGINT; the single PMI double
    is computed in ONE fixed parse shape
    ln(((c_xy·N_uni)·N_uni) / ((N_big·c_x)·c_y)) and pinned ``dp`` dp.
    Products fit double exactly only while counts < 2^26; at real
    corpus scale flip the ratio to a difference of pinned lns — the
    gate keeps the product form because fixture counts are tiny and
    one ln is one fewer pin site to mirror."""
    pow10 = float(10**dp)

    def _pin(c: Column) -> Column:
        return F.floor(c * F.lit(pow10) + F.lit(0.5)) / F.lit(pow10)

    toks = df.select(tokenize(text_col).alias("__t"))
    uni = (
        toks.select(F.explode("__t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    pairs = (
        toks.filter(F.size("__t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(__t) - 2), "
                    "i -> struct(__t[i] AS w1, __t[i + 1] AS w2))"
                )
            ).alias("__p")
        )
        .select("__p.w1", "__p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .filter(F.col("pair_n") >= min_pair_count)
    )
    n_uni = uni.agg(F.sum("c1").alias("__nu"))
    n_big = (
        toks.filter(F.size("__t") >= 2)
        .agg(F.sum(F.size("__t") - 1).alias("__nb"))
    )
    c1 = uni.select(F.col("w").alias("w1"), F.col("c1").alias("__c1"))
    c2 = uni.select(F.col("w").alias("w2"), F.col("c1").alias("__c2"))
    scored = (
        pairs.join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_big))
        .select(
            "w1",
            "w2",
            "pair_n",
            _pin(
                F.log(
                    (
                        (
                            F.col("pair_n").cast("double")
                            * F.col("__nu").cast("double")
                        )
                        * F.col("__nu").cast("double")
                    )
                    / (
                        (
                            F.col("__nb").cast("double")
                            * F.col("__c1").cast("double")
                        )
                        * F.col("__c2").cast("double")
                    )
                )
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(top_k)


def bigram_lm_quality(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dp: int = 6,
) -> DataFrame:
    """Per-document bigram-LM cross-entropy against the corpus's OWN
    add-one-smoothed bigram model — ``lm_quality``'s order-sensitive
    sibling: a document of common words in an incoherent ORDER scores
    fine under the unigram model and badly here, which is exactly the
    word-salad signal a pretraining quality filter wants.

    Model: p(w2|w1) = (c(w1,w2) + 1) / (c(w1,·) + V), V = distinct
    corpus vocabulary (the classic Laplace estimator — every count is
    an exact BIGINT, so the probability is one mirrored double ratio).
    Score = mean −ln p over the doc's adjacent pairs, each term pinned
    ``dp`` dp and folded DECIMAL(38,6) per doc (order-independent),
    the mean pinned once more. Docs with < 2 tokens are dropped (no
    bigram evidence — surfaced by absence, not a fake 0).

    Shape: ONE tokenize pass feeds doc-bigrams, the corpus bigram
    counts, and the w1-marginal; V and the model tables join back
    token-keyed (model size ∝ distinct bigrams, never corpus rows).
    The bigram model is cut_lineage-materialized once: the marginal
    re-aggregate and the scoring join's build side read the
    MATERIALIZED counts instead of each re-deriving them from the
    corpus explode (model-table materialization — the trained model is
    the thing a real run persists; V keeps its own token scan because
    single-token docs contribute vocabulary but no bigram)."""
    pow10 = float(10**dp)
    toks = df.select(
        F.col(id_col).alias("doc"), tokenize(text_col).alias("__t")
    )
    pairs = (
        toks.filter(F.size("__t") >= 2)
        .select(
            "doc",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(__t) - 2), "
                    "i -> struct(__t[i] AS w1, __t[i + 1] AS w2))"
                )
            ).alias("__p"),
        )
        .select("doc", "__p.w1", "__p.w2")
    )
    model = cut_lineage(
        pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__c12"))
    )
    marg = model.groupBy("w1").agg(F.sum("__c12").alias("__c1"))
    vocab = (
        toks.select(F.explode("__t").alias("w"))
        .agg(F.count_distinct("w").alias("__v"))
    )
    term = F.floor(
        -F.log(
            (F.col("__c12").cast("double") + F.lit(1.0))
            / (F.col("__c1").cast("double") + F.col("__v").cast("double"))
        )
        * F.lit(pow10)
        + F.lit(0.5)
    ) / F.lit(pow10)
    return (
        pairs.join(model, ["w1", "w2"])
        .join(marg, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("doc", term.cast("decimal(38,6)").alias("__nll"))
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            (
                F.floor(
                    F.sum("__nll").cast("double")
                    / F.count(F.lit(1)).cast("double")
                    * F.lit(pow10)
                    + F.lit(0.5)
                )
                / F.lit(pow10)
            ).alias("xent_nats"),
        )
    )


def nb_train_classify(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    dp: int = 6,
) -> DataFrame:
    """Train a multinomial Naive Bayes on the corpus's own labels and
    classify every document with it — the end-to-end "ML as relational
    algebra" showcase: model = two grouped counts, inference = one
    token-keyed join + a decimal-fold argmax. No driver loop, no UDF,
    no float accumulation order anywhere.

    Model (add-one smoothing, all exact BIGINTs): prior(c) =
    docs_c/docs, lik(w|c) = (count_{w,c} + 1)/(tokens_c + V). Score =
    ln prior + Σ_w ln lik — each ln pinned ``dp`` dp and folded
    DECIMAL(38,6) per (doc, class), so the sum is order-independent
    and the argmax (score DESC, class ASC for determinism) is
    engine-exact. Unseen (w, c) pairs fall back to the 1/(tokens_c+V)
    floor via a class-grained join, not a row-level CASE walk.

    Scale: model size ∝ V×|classes| (token-keyed joins); per-doc work
    ∝ its token count; the only windows run per doc over |classes|
    rows. Returns (doc, label, pred, correct)."""
    pow10 = float(10**dp)

    def _pin(c: Column) -> Column:
        return F.floor(c * F.lit(pow10) + F.lit(0.5)) / F.lit(pow10)

    toks = df.select(
        F.col(id_col).alias("doc"),
        F.col(label_col).alias("lbl"),
        F.explode(tokenize(text_col)).alias("w"),
    )
    docs = df.select(F.col(id_col).alias("doc"), F.col(label_col).alias("lbl"))
    classes = docs.groupBy("lbl").agg(F.count(F.lit(1)).alias("__dc"))
    n_docs = classes.agg(F.sum("__dc").alias("__nd"))
    # the model table is V×|classes| — materialize it once (cut_lineage)
    # so its three consumers (per-class token totals, vocabulary size,
    # the inference join's build side) fold the MATERIALIZED counts
    # instead of each re-running the corpus tokenize+explode. V is every
    # token of a labeled corpus row, so distinct w over the model == the
    # corpus vocabulary — the separate vocabulary scan is derived, not
    # recomputed. (Model-table materialization is exactly what a 100 TB
    # run does with a trained model; the cut is executor-distributed.)
    wc = cut_lineage(
        toks.groupBy("lbl", "w").agg(F.count(F.lit(1)).alias("__cwc"))
    )
    ctot = wc.groupBy("lbl").agg(F.sum("__cwc").alias("__ct"))
    vocab = wc.agg(F.count_distinct("w").alias("__v"))
    # per-class denominator (tokens_c + V), broadcast-tiny
    cls = (
        classes.join(F.broadcast(ctot), "lbl")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("lbl").alias("cls"),
            _pin(
                F.log(F.col("__dc").cast("double") / F.col("__nd").cast("double"))
            ).alias("__lprior"),
            (F.col("__ct") + F.col("__v")).alias("__den"),
        )
    )
    # doc tokens × every class; seen (w, cls) pairs pick up their count
    seen = wc.select(
        F.col("lbl").alias("cls"), "w", F.col("__cwc").alias("__cnt")
    )
    scored = (
        toks.select("doc", "lbl", "w")
        .join(F.broadcast(cls.select("cls", "__den")), how="cross")
        .join(seen, ["cls", "w"], "left")
        .select(
            "doc",
            "lbl",
            "cls",
            _pin(
                F.log(
                    (F.coalesce(F.col("__cnt"), F.lit(0)).cast("double") + F.lit(1.0))
                    / F.col("__den").cast("double")
                )
            )
            .cast("decimal(38,6)")
            .alias("__ll"),
        )
        .groupBy("doc", "lbl", "cls")
        .agg(F.sum("__ll").alias("__sll"))
    )
    w_best = Window.partitionBy("doc").orderBy(
        F.col("__score").desc(), F.col("cls").asc()
    )
    return (
        scored.join(F.broadcast(cls.select("cls", "__lprior")), "cls")
        .select(
            "doc",
            "lbl",
            "cls",
            (F.col("__sll").cast("double") + F.col("__lprior")).alias(
                "__score"
            ),
        )
        .withColumn("__rn", F.row_number().over(w_best))
        .filter(F.col("__rn") == 1)
        .select(
            "doc",
            F.col("lbl").alias("label"),
            F.col("cls").alias("pred"),
            (F.col("cls") == F.col("lbl")).alias("correct"),
        )
    )


def trigram_substring_search(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pattern: str,
) -> DataFrame:
    """Substring search (LIKE '%pattern%') via a TRIGRAM prefilter —
    the scale path for arbitrary-infix search, where no parquet
    min/max stat, prefix index, or word-level inverted index
    (text_inverted_index tokenizes on word boundaries) can help: a
    doc can contain the pattern only if it contains EVERY trigram of
    the pattern, so the candidate set comes from a trigram-postings
    equi-join and only candidates pay the exact contains() scan —
    the pg_trgm / code-search design as relational algebra.

    Occurrence count is exact integer arithmetic:
    (len(text) − len(replace(text, pattern, ''))) / len(pattern).
    Shape: per-doc trigram explode (distinct — postings, not
    positions), a |pattern-trigrams|-way semi-ish join (group count
    == n pattern trigrams), then the verify scan over candidates
    only. Patterns shorter than 3 chars have no trigram to key on,
    so they fall back to the exact contains() full scan (same output
    columns, no prefilter)."""
    if not pattern:
        raise ValueError("pattern must be non-empty")
    if len(pattern) < 3:
        return df.select(
            F.col(id_col),
            (
                (
                    F.length(text_col)
                    - F.length(F.replace(F.col(text_col), F.lit(pattern)))
                )
                / F.lit(len(pattern))
            )
            .cast("long")
            .alias("n_occurrences"),
        ).filter(F.col("n_occurrences") > 0)
    trgms = sorted({pattern[i : i + 3] for i in range(len(pattern) - 2)})
    pat_arr = F.array(*[F.lit(t) for t in trgms])
    doc_trgms = df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, greatest(length({text_col}) - 2, 0)), "
                    f"i -> substr({text_col}, i, 3))"
                )
            )
        ).alias("__t"),
    )
    hits = (
        doc_trgms.join(
            F.broadcast(
                df.sparkSession.range(1)
                .select(F.explode(pat_arr).alias("__t"))
            ),
            "__t",
        )
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("__nt"))
        .filter(F.col("__nt") == len(trgms))
        .select("doc")
    )
    verified = df.join(
        hits, df[id_col] == hits["doc"]
    ).select(
        F.col(id_col),
        (
            (
                F.length(text_col)
                - F.length(F.replace(F.col(text_col), F.lit(pattern)))
            )
            / F.lit(len(pattern))
        )
        .cast("long")
        .alias("n_occurrences"),
    )
    return verified.filter(F.col("n_occurrences") > 0)


def html_to_text(col: Column | str) -> Column:
    """HTML → visible text as ONE whole-stage-codegen Column expression
    (no UDF — the step between sources/warc.py's record explode and
    every text operator in this module, kept JVM-side because at 100 TB
    it runs once per crawled page):

    1. drop <script>/<style> elements wholesale (their content is code,
       not text; (?is) = dotall + case-insensitive, backreference keeps
       the pair matched),
    2. drop comments and all remaining tags (each becomes a space so
       ``<p>a</p><p>b</p>`` doesn't weld words together),
    3. decode the named entities real pages actually use (``&amp;``
       LAST, the standard order that keeps ``&amp;lt;`` honest —
       exotic numeric references stay literal rather than half-decoded),
    4. collapse whitespace runs and trim.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"(?is)<(script|style)[^>]*>.*?</\1>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"<[^>]*>", " ")
    for entity, repl in (
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", "\""),
        ("&#39;", "'"),
        ("&apos;", "'"),
        ("&amp;", "&"),
    ):
        c = F.replace(c, F.lit(entity), F.lit(repl))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def split_sentences(col: Column | str) -> Column:
    """Sentence segmentation as one codegen expression: split after
    [.!?] runs followed by whitespace and an upper-case/quote/digit
    opener, with a lookbehind guard for single-letter initials
    ("J. Smith" stays whole). A heuristic by design — common honorifics
    ("Dr.", "Mr.") still split; corpora needing linguistic-grade
    segmentation run a model downstream. Empty fragments are filtered,
    fragments are trimmed."""
    c = F.col(col) if isinstance(col, str) else col
    parts = F.split(c, r"(?<=[.!?])(?<!\b[A-Z]\.)\s+(?=[\"'(A-Z0-9])")
    return F.filter(
        F.transform(parts, lambda s: F.trim(s)), lambda s: s != ""
    )


def html_meta(col: Column | str) -> Column:
    """Head metadata out of raw HTML as one codegen struct — the fields
    a crawl pipeline indexes before (or instead of) full text: <title>,
    meta description, og:title / og:image, canonical link, and the
    <html lang> attribute. Case-insensitive regex per field, attribute
    order tolerated for the name/content pair, empty matches become
    nulls. Heuristic extraction by design (no HTML parser on the
    once-per-page path); pages with exotic attribute quoting fall back
    to null, never error."""
    c = F.col(col) if isinstance(col, str) else col

    def rx(pattern: str) -> Column:
        return F.nullif(F.regexp_extract(c, pattern, 1), F.lit(""))

    def attr_val(prefix: str) -> Column:
        # quote-aware value capture: [\"']([^\"']*)[\"'] would let the
        # OTHER quote char terminate the value, truncating e.g.
        # content="Dave's page" at the apostrophe (review finding) —
        # match each quoting style with its own closing quote
        return F.coalesce(
            rx(rf"(?is){prefix}\s*=\s*\"([^\"]*)\""),
            rx(rf"(?is){prefix}\s*=\s*'([^']*)'"),
        )

    def meta_content(name_attr: str, name_val: str) -> Column:
        # name/content in either attribute order
        return F.coalesce(
            attr_val(rf"<meta\s[^>]*{name_attr}\s*=\s*[\"']{name_val}[\"'][^>]*?content"),
            attr_val(rf"<meta\s(?=[^>]*{name_attr}\s*=\s*[\"']{name_val}[\"'])[^>]*?content"),
        )

    return F.struct(
        F.trim(rx(r"(?is)<title[^>]*>\s*(.*?)\s*</title>")).alias("title"),
        meta_content("name", "description").alias("description"),
        meta_content("property", "og:title").alias("og_title"),
        meta_content("property", "og:image").alias("og_image"),
        attr_val(r"<link\s[^>]*rel\s*=\s*[\"']canonical[\"'][^>]*?href").alias("canonical"),
        attr_val(r"<html\s[^>]*?\blang").alias("lang_attr"),
    )


def extract_main_content(col: Column | str, min_block_len: int = 25) -> Column:
    """Boilerplate removal — the Readability/Arc90 text-density
    heuristic as ONE codegen Column expression (no UDF; like
    ``html_to_text`` this runs once per crawled page, so it must stay
    JVM-side at 100 TB):

    1. drop <script>/<style>/<nav>/<header>/<footer>/<aside> elements
       wholesale (pure chrome by HTML5 semantics),
    2. split the page into candidate blocks at block-level boundaries
       (<p>/<div>/<article>/<section>/<li>/<h1-6>/<td>/<br>),
    3. score each block: visible-text length vs its link count — a
       block whose text is mostly anchor text is navigation, not
       content (the classic link-density cut at 1 link per
       ~${min_block_len} chars, plus an absolute minimum length that
       drops button labels and breadcrumbs),
    4. keep surviving blocks in page order, entity-decode, collapse
       whitespace.

    A heuristic by design (like ``split_sentences``): it recovers the
    article body from nav/footer/sidebar chrome without a DOM parser;
    pages needing DOM-accurate extraction run one downstream. Returns
    the main text as a single string ('' when nothing survives —
    a chrome-only page has no main content, which is itself signal)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(
        c, r"(?is)<(script|style|nav|header|footer|aside)[^>]*>.*?</\1>", " "
    )
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    blocks = F.split(
        c, r"(?i)</?(?:p|div|article|section|li|h[1-6]|td|br)\b[^>]*>"
    )

    def clean(b: Column) -> Column:
        t = F.regexp_replace(b, r"<[^>]*>", " ")
        for entity, repl in (
            ("&nbsp;", " "),
            ("&lt;", "<"),
            ("&gt;", ">"),
            ("&quot;", "\""),
            ("&#39;", "'"),
            ("&apos;", "'"),
            ("&amp;", "&"),
        ):
            t = F.replace(t, F.lit(entity), F.lit(repl))
        return F.trim(F.regexp_replace(t, r"\s+", " "))

    scored = F.transform(
        blocks,
        lambda b: F.struct(
            clean(b).alias("text"),
            # '<a' is 2 chars, so removed-length / 2 = anchor count
            (
                (F.length(b) - F.length(F.regexp_replace(b, r"(?i)<a\b", ""))) / 2
            ).cast("int").alias("n_links"),
        ),
    )
    kept = F.filter(
        scored,
        lambda s: (F.length(s["text"]) >= min_block_len)
        # link-density cut: at most one anchor per min_block_len chars
        # of visible text — navigation lists fail this immediately
        & (s["n_links"] * F.lit(int(min_block_len)) <= F.length(s["text"])),
    )
    return F.array_join(F.transform(kept, lambda s: s["text"]), " ")


# Gopher quality-rule constants (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", Appendix A — the published heuristic filter
# battery that became the standard web-corpus pre-filter). The list is
# ENGLISH-ONLY by construction; gopher_quality_flags takes a per-language
# replacement tuple for corpora routed by text_lang_id.
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(
    col: Column | str, stopwords: tuple[str, ...] = _GOPHER_STOPWORDS
) -> Column:
    """The Gopher quality-rule battery as ONE codegen struct — the
    published pre-filter every large web corpus applies before the
    model-based scorers (public knowledge: Rae et al. 2021 App. A;
    reused by MassiveText/FineWeb-class pipelines):

    - word_count in [50, 100_000]
    - mean_word_len in [3, 10]
    - symbol_ratio (# or ... per word) <= 0.1
    - bullet_ratio (lines starting with a bullet) <= 0.9
    - ellipsis_ratio (lines ending with ...) <= 0.3
    - alpha_word_ratio (words containing a letter) >= 0.8
    - stopword_hits (distinct ``stopwords`` present) >= 2

    The default stopword list is the battery's 8 canonical ENGLISH
    words — the published rule is English-only, so non-English corpora
    must route through ``text_lang_id`` first and pass a per-language
    ``stopwords`` tuple here (any lowercase alphabetic words work; the
    thresholds are the caller's to re-tune). A stopword counts when it
    appears as a word TOKEN after stripping non-letters — 'the,' and
    'of.' count (round-10 ADVICE: the old space-delimited substring
    probe missed punctuation-adjacent tokens, flipping ok_stopwords
    false on valid prose).

    Returns the MEASURES alongside the per-rule booleans and the overall
    ``passes`` conjunction, so a pipeline can both filter and stratify
    by failure mode. Pure Column expressions — at 100 TB this is one
    whole-stage-codegen pass per document, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    words = F.filter(F.split(c, r"\s+"), lambda w: w != "")
    n_words = F.size(words)
    lines = F.filter(F.split(c, r"\r?\n"), lambda ln: F.trim(ln) != "")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    total_word_chars = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    mean_word_len = total_word_chars / F.greatest(n_words, F.lit(1))
    n_symbols = (
        F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
        + (F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))) / 3
    )
    symbol_ratio = n_symbols / F.greatest(n_words, F.lit(1))
    bullet_ratio = (
        F.size(F.filter(lines, lambda ln: F.regexp_like(F.trim(ln), F.lit(r"^[-*•]"))))
        / n_lines
    )
    ellipsis_ratio = (
        F.size(F.filter(lines, lambda ln: F.trim(ln).endswith("...")))
        / n_lines
    )
    alpha_word_ratio = (
        F.size(F.filter(words, lambda w: F.regexp_like(w, F.lit("[A-Za-z]"))))
        / F.greatest(n_words, F.lit(1))
    )
    # word-token rule: strip non-letters from each whitespace token, then
    # test membership — 'the,' counts, 'other' never false-hits 'the'
    norm_words = F.transform(
        words, lambda w: F.lower(F.regexp_replace(w, r"[^A-Za-z]", ""))
    )
    stopword_hits = F.aggregate(
        F.array(*[F.lit(w) for w in stopwords]),
        F.lit(0),
        lambda acc, w: acc + F.when(F.array_contains(norm_words, w), 1).otherwise(0),
    )
    ok_words = (n_words >= 50) & (n_words <= 100_000)
    ok_word_len = (mean_word_len >= 3) & (mean_word_len <= 10)
    ok_symbols = symbol_ratio <= 0.1
    ok_bullets = bullet_ratio <= 0.9
    ok_ellipsis = ellipsis_ratio <= 0.3
    ok_alpha = alpha_word_ratio >= 0.8
    ok_stop = stopword_hits >= 2
    return F.struct(
        n_words.cast("long").alias("word_count"),
        mean_word_len.cast("double").alias("mean_word_len"),
        symbol_ratio.cast("double").alias("symbol_ratio"),
        bullet_ratio.cast("double").alias("bullet_ratio"),
        ellipsis_ratio.cast("double").alias("ellipsis_ratio"),
        alpha_word_ratio.cast("double").alias("alpha_word_ratio"),
        stopword_hits.cast("long").alias("stopword_hits"),
        ok_words.alias("ok_word_count"),
        ok_word_len.alias("ok_mean_word_len"),
        ok_symbols.alias("ok_symbol_ratio"),
        ok_bullets.alias("ok_bullet_ratio"),
        ok_ellipsis.alias("ok_ellipsis_ratio"),
        ok_alpha.alias("ok_alpha_words"),
        ok_stop.alias("ok_stopwords"),
        (
            ok_words & ok_word_len & ok_symbols & ok_bullets
            & ok_ellipsis & ok_alpha & ok_stop
        ).alias("passes"),
    )


def dedup_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_freq: int = 1,
    min_line_chars: int = 1,
) -> DataFrame:
    """Corpus-frequency line dedup — the CCNet/RefinedWeb step that
    strips boilerplate LINES (cookie banners, nav crumbs, share
    buttons) by how often the exact line recurs ACROSS the corpus:
    lines whose trimmed text appears in more than ``max_freq``
    documents are dropped from every document; survivors are
    reassembled in original order. Empty/short lines (<
    ``min_line_chars``) pass through untouched — they are formatting,
    not boilerplate evidence.

    Scale shape: explode is in-task (no shuffle); the line-frequency
    count and the keep-join share ONE md5(line) hash partitioning
    (co-located — Catalyst reuses the exchange); reassembly is the one
    per-document shuffle. Never a cartesian; skew = a mega-duplicated
    line, which is exactly what gets dropped. Output: (id, text,
    n_lines_kept, n_lines_dropped) — one row per INPUT document: a doc
    whose every line is boilerplate surfaces as ('', 0, n_total)
    rather than vanishing (round-10 ADVICE — silent row loss broke
    downstream doc accounting), so the stage is row-count-preserving
    like any honest filter-annotate step. NULL text is treated as ''
    (split(NULL) is NULL and posexplode would silently drop the doc
    from the spine — round-11 ADVICE): a NULL-text doc surfaces as
    ('', 1, 0) like an empty-text doc."""
    lines = docs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), r"\r?\n")
        ).alias("__idx", "__line"),
    ).withColumn("__key", F.md5(F.trim(F.col("__line"))))
    sized = lines.withColumn(
        "__countable", F.length(F.trim("__line")) >= min_line_chars
    )
    # frequency = number of DISTINCT documents carrying the line (a line
    # repeated inside one page is repetition, not cross-site boilerplate)
    freq = (
        sized.filter("__countable")
        .groupBy("__key")
        .agg(F.count_distinct("__id").alias("__n_docs"))
    )
    kept = (
        sized.join(freq, "__key", "left")
        .filter(~F.col("__countable") | (F.col("__n_docs") <= max_freq))
    )
    kept_agg = kept.groupBy("__id").agg(
        F.array_join(
            F.expr("transform(sort_array(collect_list(struct(__idx, __line))), x -> x.__line)"),
            "\n",
        ).alias(text_col),
        F.count(F.lit(1)).cast("long").alias("n_lines_kept"),
    )
    # the per-doc totals are the doc SPINE (every input doc has >= 1
    # line row): left-joining the kept aggregate onto it keeps docs
    # whose every line was dropped in the output instead of losing them
    return (
        lines.groupBy("__id")
        .agg(F.count(F.lit(1)).cast("long").alias("__n_total"))
        .join(kept_agg, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            F.coalesce(F.col("n_lines_kept"), F.lit(0).cast("long")).alias(
                "n_lines_kept"
            ),
            (
                F.col("__n_total")
                - F.coalesce(F.col("n_lines_kept"), F.lit(0).cast("long"))
            ).alias("n_lines_dropped"),
        )
    )


# Published Gopher repetition thresholds (Rae et al. 2021, App. A.1.2):
# a doc is filtered when the measure EXCEEDS the threshold. Expressed in
# basis points to match the battery's exact integer cross-engine math.
_GOPHER_TOP_NGRAM_BP = {2: 2000, 3: 1800, 4: 1600}
_GOPHER_DUP_NGRAM_BP = {5: 1500, 6: 1400, 7: 1300, 8: 1200, 9: 1100, 10: 1000}
_GOPHER_DUP_SEG_BP = 3000  # duplicate line/paragraph fraction
_GOPHER_DUP_SEG_CHAR_BP = 2000  # duplicate line/paragraph CHAR fraction


def gopher_repetition_battery(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 10),
) -> DataFrame:
    """The FULL published Gopher repetition battery (Rae et al. 2021,
    App. A.1.2 — the in-document half that ``repetition_metrics``'
    distinct-ratio + top-2-gram share previews), using the public
    concretization every major curation stack converged on:

    - **duplicate line / paragraph fraction**: segments (trimmed,
      non-empty; paragraphs split on blank lines) occurring beyond
      their first copy, over all segments;
    - **duplicate line / paragraph CHARACTER fraction**: characters in
      the repeats beyond the first copy, over all segment characters;
    - **top n-gram character fraction** (n in ``top_ns``): occurrences
      of the single most frequent word n-gram x its word characters,
      over total word characters (ties broken by char length then
      lexicographic gram — deterministic cross-engine);
    - **duplicate n-gram character fraction** (n in ``dup_ns``): word
      characters covered by ANY n-gram occurring more than once,
      overlap counted ONCE (position-coverage union, not a per-
      occurrence sum). The published battery sweeps n=5..10; the
      default runs the two envelope values — pass the full tuple for
      a production filter.

    All fractions are basis points via exact integer division
    (numer*10000 div denom) — bit-identical cross-engine, the
    ``top_ngram_frac_bp`` rule. ``passes`` is the published-threshold
    conjunction over whatever measures were computed.

    Scale shape: the line/paragraph half is PURE per-row codegen (zero
    shuffle). The n-gram half explodes positioned grams once for all
    requested n (in-task), counts via ONE window keyed (doc, n, gram),
    aggregates per (doc, n), and pivots per doc — uniform keys, skew
    bounded by document length; the coverage explode blows up only the
    DUPLICATED grams (the thing being measured, rare in clean corpora).
    A corpus filter runs once per corpus; every join key carries doc_id."""
    from pyspark.sql.window import Window

    c = F.col(text_col)

    def seg_stats(sep: str, prefix: str):
        segs = F.filter(
            F.transform(F.split(c, sep), lambda s: F.trim(s)),
            lambda s: s != "",
        )
        dsegs = F.array_distinct(segs)
        chars = F.aggregate(segs, F.lit(0), lambda a, s: a + F.length(s))
        dchars = F.aggregate(dsegs, F.lit(0), lambda a, s: a + F.length(s))
        return [
            F.size(segs).alias(f"__n_{prefix}"),
            F.size(dsegs).alias(f"__nd_{prefix}"),
            chars.alias(f"__c_{prefix}"),
            dchars.alias(f"__cd_{prefix}"),
        ]

    toks = docs.select(
        F.col(id_col).alias("__id"),
        tokenize(text_col).alias("__toks"),
        *seg_stats(r"\r?\n", "ln"),
        *seg_stats(r"(?:\r?\n){2,}", "pg"),
    ).withColumn(
        "__tok_chars",
        F.aggregate("__toks", F.lit(0), lambda a, w: a + F.length(w)),
    )

    all_ns = sorted(set(top_ns) | set(dup_ns))
    # ONE positioned-gram explode for every requested n (round 12: the
    # per-n union of 9 frames re-scanned the token arrays 9 times and
    # planned 9 map stages; a single explode of positions then an
    # in-row explode of the ns that FIT at that position plans one —
    # the sf-independent stage overhead dominated the battery's cost)
    min_n = min(all_ns)
    pos_idx = F.when(
        F.size("__toks") >= min_n,
        F.sequence(F.lit(0), F.size("__toks") - min_n),
    ).otherwise(F.array().cast("array<int>"))
    ns_arr = F.array(*[F.lit(n) for n in all_ns])
    grams = (
        toks.select("__id", "__toks", F.explode(pos_idx).alias("__pos"))
        .select(
            "__id",
            "__toks",
            "__pos",
            F.explode(
                F.filter(
                    ns_arr, lambda n: F.col("__pos") + n <= F.size("__toks")
                )
            ).alias("__n"),
        )
        .select(
            "__id",
            "__n",
            "__pos",
            F.concat_ws(
                " ", F.slice("__toks", F.col("__pos") + 1, F.col("__n"))
            ).alias("__gram"),
        )
    )
    grams = grams.withColumn(
        "__cnt",
        F.count(F.lit(1)).over(Window.partitionBy("__id", "__n", "__gram")),
    ).withColumn("__glen", F.length("__gram") - (F.col("__n") - 1))

    top_piv = (
        grams.filter(F.col("__n").isin(*top_ns))
        .groupBy("__id", "__n")
        .agg(F.max(F.struct("__cnt", "__glen", "__gram")).alias("__top"))
        .select(
            "__id",
            "__n",
            (F.col("__top.__cnt") * F.col("__top.__glen")).alias("__top_chars"),
        )
        .groupBy("__id")
        .pivot("__n", [str(n) for n in top_ns])
        .agg(F.first("__top_chars"))
    )
    words = toks.select(
        "__id", F.posexplode("__toks").alias("__widx", "__w")
    ).withColumn("__wlen", F.length("__w"))
    dup_piv = (
        grams.filter(F.col("__n").isin(*dup_ns) & (F.col("__cnt") > 1))
        .select(
            "__id",
            "__n",
            F.explode(
                F.sequence(F.col("__pos"), F.col("__pos") + F.col("__n") - 1)
            ).alias("__widx"),
        )
        .distinct()
        .join(words, ["__id", "__widx"])
        .groupBy("__id", "__n")
        .agg(F.sum("__wlen").alias("__dup_chars"))
        .groupBy("__id")
        .pivot("__n", [str(n) for n in dup_ns])
        .agg(F.first("__dup_chars"))
    )

    def bp(numer, denom) -> Column:
        # explicit zero-denominator guard: ANSI mode makes `div` THROW
        # on zero rather than return null (empty docs are normal input)
        return F.expr(
            f"CASE WHEN ({denom}) = 0 THEN 0"
            f" ELSE ({numer}) * 10000 div ({denom}) END"
        ).cast("long")

    out = toks.join(
        top_piv.select(
            "__id", *[F.col(str(n)).alias(f"__top{n}") for n in top_ns]
        ),
        "__id",
        "left",
    ).join(
        dup_piv.select(
            "__id", *[F.col(str(n)).alias(f"__dup{n}") for n in dup_ns]
        ),
        "__id",
        "left",
    )
    measures = [
        bp("__n_ln - __nd_ln", "__n_ln").alias("dup_line_frac_bp"),
        bp("__c_ln - __cd_ln", "__c_ln").alias("dup_line_char_frac_bp"),
        bp("__n_pg - __nd_pg", "__n_pg").alias("dup_para_frac_bp"),
        bp("__c_pg - __cd_pg", "__c_pg").alias("dup_para_char_frac_bp"),
        *[
            bp(f"coalesce(__top{n}, 0)", "__tok_chars").alias(
                f"top{n}_char_frac_bp"
            )
            for n in top_ns
        ],
        *[
            bp(f"coalesce(__dup{n}, 0)", "__tok_chars").alias(
                f"dup{n}_char_frac_bp"
            )
            for n in dup_ns
        ],
    ]
    checks = [
        F.col("dup_line_frac_bp") <= _GOPHER_DUP_SEG_BP,
        F.col("dup_para_frac_bp") <= _GOPHER_DUP_SEG_BP,
        F.col("dup_line_char_frac_bp") <= _GOPHER_DUP_SEG_CHAR_BP,
        F.col("dup_para_char_frac_bp") <= _GOPHER_DUP_SEG_CHAR_BP,
    ]
    for n in top_ns:
        if n in _GOPHER_TOP_NGRAM_BP:
            checks.append(
                F.col(f"top{n}_char_frac_bp") <= _GOPHER_TOP_NGRAM_BP[n]
            )
    for n in dup_ns:
        if n in _GOPHER_DUP_NGRAM_BP:
            checks.append(
                F.col(f"dup{n}_char_frac_bp") <= _GOPHER_DUP_NGRAM_BP[n]
            )
    passes = checks[0]
    for chk in checks[1:]:
        passes = passes & chk
    return out.select(
        F.col("__id").alias(id_col), *measures
    ).withColumn("passes", passes)


def c4_quality_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    word_blocklist: tuple[str, ...] = (),
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The C4 cleaning battery (Raffel et al. 2020 §2.2 — the published
    rule set behind the C4 corpus, the other canonical pre-filter next
    to the Gopher battery), as pure per-row codegen (ZERO shuffle —
    every rule is a line-array filter or a flag on the doc):

    line rules (kept lines re-joined in order):
    - keep only lines ending in a terminal punctuation mark (. ! ? ")
      after trimming,
    - keep only lines with at least 3 words,
    - drop any line containing the word 'javascript'
      (case-insensitive);

    page rules (flags + the ``keep`` conjunction):
    - drop pages whose CLEANED text has fewer than 5 sentences
      (sentence = a terminal-punctuation run, optionally a closing
      double quote, then whitespace or end — a lookaround-free count,
      identical in Java regex and RE2, so the rule is oracle-checkable
      cross-engine),
    - drop pages containing 'lorem ipsum' (case-insensitive),
    - drop pages containing a curly bracket (either brace — an
      unmatched '}' is as much a code smell as '{'; round-11 ADVICE),
    - drop pages containing any ``word_blocklist`` token (the paper
      uses a public bad-words list; pass it here — matching is
      case-insensitive on the WORD level, same tokenization as the
      Gopher stopword rule, so 'title' never false-hits 'tit').

    Returns every input doc with its cleaned text, line accounting,
    the flags, and ``keep`` — a filter-annotate stage, row-count
    preserving like ``dedup_lines``. ``keep_cols`` names extra input
    columns passed through UNTOUCHED (placed right after ``id_col``) —
    a stacked pipeline that computed upstream flags on the same rows
    can carry them through this stage instead of recomputing its input
    a second time for a later doc_id re-join (guide §2.4)."""
    c = F.col(text_col)
    lines = F.split(c, r"\r?\n")
    kept = F.filter(
        F.transform(lines, lambda s: F.trim(s)),
        lambda s: (s != "")
        & F.regexp_like(s, F.lit(r'[.!?"]$'))
        & (F.size(F.filter(F.split(s, r"\s+"), lambda w: w != "")) >= 3)
        & ~F.lower(s).contains("javascript"),
    )
    clean = F.array_join(kept, "\n")
    n_lines = F.size(F.filter(F.transform(lines, lambda s: F.trim(s)), lambda s: s != ""))
    n_sentences = F.regexp_count(clean, F.lit(r'[.!?]+"?(?:\s|$)'))
    lower = F.lower(c)
    norm_words = F.transform(
        F.filter(F.split(c, r"\s+"), lambda w: w != ""),
        lambda w: F.lower(F.regexp_replace(w, r"[^A-Za-z]", "")),
    )
    has_blocked = F.lit(False)
    for w in word_blocklist:
        has_blocked = has_blocked | F.array_contains(norm_words, w.lower())
    flags = {
        "has_lorem_ipsum": lower.contains("lorem ipsum"),
        "has_curly_brace": c.contains("{") | c.contains("}"),
        "has_blocked_word": has_blocked,
    }
    out = docs.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        clean.alias("text_clean"),
        F.size(kept).cast("long").alias("n_lines_kept"),
        (n_lines - F.size(kept)).cast("long").alias("n_lines_dropped"),
        n_sentences.cast("long").alias("n_sentences"),
        *[v.alias(k) for k, v in flags.items()],
    )
    return out.withColumn(
        "keep",
        (F.col("n_sentences") >= 5)
        & ~F.col("has_lorem_ipsum")
        & ~F.col("has_curly_brace")
        & ~F.col("has_blocked_word"),
    )


def ccnet_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    n_buckets: int = 3,
    labels: tuple[str, ...] = ("head", "middle", "tail"),
) -> DataFrame:
    """CCNet perplexity bucketing (Wenzek et al. 2020 §4.3 — the
    published head/middle/tail split every CommonCrawl curation run
    applies): score each document with the corpus unigram LM
    (``lm_quality``'s bits-per-token — the in-engine stand-in for the
    external KenLM artifact), then cut each LANGUAGE into
    ``n_buckets`` equal-frequency tiles by score — lowest
    bits-per-token (most fluent) = 'head'. Deterministic: the ntile
    order is the total order (bits_per_token asc, id asc), so equal
    scores break by id identically on any engine or partitioning.

    Scale shape: lm_quality's vocab groupBy + bounded token→vocab
    join, then ONE per-language window (the politeness-clock shape —
    partitions are languages, never the corpus). Docs with no tokens
    have no LM score and carry a NULL bucket (CCNet drops them; the
    row is kept so the stage stays row-count preserving)."""
    if len(labels) != n_buckets:
        raise ValueError("labels must match n_buckets")
    from pyspark.sql.window import Window

    scored = lm_quality(df, id_col, text_col)
    w = Window.partitionBy("__lang").orderBy(
        F.asc("bits_per_token"), F.asc(id_col)
    )
    base = df.select(F.col(id_col), F.col(lang_col).alias("__lang")).join(
        scored, id_col, "left"
    )
    # the tile population is the SCORED rows only — mixing the NULL
    # rows into the window would hand the engines' opposite NULL sort
    # orders (Spark asc = nulls first, DuckDB = nulls last) a say in
    # the tile boundaries
    joined = (
        base.filter(F.col("bits_per_token").isNotNull())
        .withColumn("__tile", F.ntile(n_buckets).over(w))
        .unionByName(
            base.filter(F.col("bits_per_token").isNull()).withColumn(
                "__tile", F.lit(None).cast("int")
            )
        )
    )
    label = F.lit(None).cast("string")
    for i, name in enumerate(labels, start=1):
        label = F.when(F.col("__tile") == i, F.lit(name)).otherwise(label)
    return joined.select(
        id_col,
        F.col("__lang").alias(lang_col),
        "n_tokens",
        "bits_per_token",
        label.alias("bucket"),
    )
