"""Deduplication operators for training-data pipelines (north-star).

Five families, all deterministic and (except where noted) pure JVM-side
column expressions, so each has a DuckDB-oracle twin:

- exact            — fingerprint groupBy (hash-dedup)
- minhash + LSH    — shingle → k md5-minhashes → banded bucket join
- simhash          — 32-bit sign-aggregated word-hash fingerprint
- n-gram Jaccard   — exact set overlap via relational explode/join
- embedding cosine — near-dup by vector similarity (operators/similarity.py)

Hashing: both Spark and DuckDB produce identical md5 hex strings, which is
what makes minhash/simhash signatures oracle-checkable bit for bit. Each
"independent" hash function h_i(x) = md5(i || ':' || x).

Scale notes (100 TB):
- exact dedup = one shuffle on the 32-hex fingerprint (≈ even distribution
  by construction, no skew);
- minhash-LSH candidate generation = groupBy (band, band_key) — documents
  only meet inside a bucket; never an O(n²) cross join;
- n-gram Jaccard is reserved for *verifying* candidate pairs (input is the
  LSH bucket output), not for all-pairs: the relational form below keeps
  the join keyed on shingle so Spark distributes it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

from .graph import connected_components
from .text import fingerprint, tokenize, word_ngrams, word_ngrams_from_tokens, word_set


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicates by normalized-text fingerprint; keeps the lowest id
    per group (deterministic canonical representative)."""
    return (
        df.withColumn("fp", fingerprint(text_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def provenance_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    priority: Column,
) -> DataFrame:
    """Exact dedup with a PROVENANCE-aware canonical pick: within each
    normalized-text fingerprint group, keep the copy that minimizes
    (priority, id) — the Dolma/CCNet-style "same page crawled from
    several sources: keep the most-trusted source's copy" step, where
    ``priority`` is any deterministic per-row expression (source rank,
    negated quality score, crawl recency...). min-of-struct aggregates
    map-side like exact_dedup's min(id) — one uniform-key shuffle,
    identical scale shape, just a richer order."""
    pick = F.min(
        F.struct(priority.alias("p"), F.col(id_col).alias("i"))
    ).alias("__pick")
    return (
        df.withColumn("fp", fingerprint(text_col))
        .groupBy("fp")
        .agg(pick, F.count(F.lit(1)).alias("n_copies"))
        .select(
            "fp",
            F.col("__pick.i").alias("canonical_id"),
            F.col("__pick.p").alias("canonical_priority"),
            "n_copies",
        )
    )


def _mh(shingle: Column, seed: int) -> Column:
    # one minhash function: min over md5(seed:shingle); hex-string min is a
    # valid uniform order because md5 hex is fixed-width lower-case
    return F.md5(F.concat(F.lit(f"{seed}:"), shingle))


def minhash_signature(text: Column | str, num_hashes: int = 8, ngram: int = 3) -> Column:
    """Array of ``num_hashes`` minhash values over word n-gram shingles."""
    shingles = F.array_distinct(word_ngrams(text, ngram))

    def hasher(seed: int):
        # single-arg lambda on purpose: a two-arg lambda would make
        # F.transform pass the element INDEX as the second argument
        return lambda s: _mh(s, seed)

    return F.array(
        *[F.array_min(F.transform(shingles, hasher(i))) for i in range(num_hashes)]
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    ngram: int = 3,
    expand_parallelism: int | None = None,
) -> DataFrame:
    """One row per doc with minhash components (id, m0..m{n-1}) — the
    shared signature table behind banding AND signature-level Jaccard
    estimation. Explode shingles once → num_hashes md5s per (doc,
    shingle) row → map-side min-aggregate back to one row per doc (see
    minhash_bands for why this beats the per-row-array form 60×)."""
    toks = df.select(F.col(id_col), tokenize(text_col).alias("__toks"))
    if expand_parallelism:
        toks = toks.repartition(expand_parallelism)
    shingles = (
        # materialize tokens first: word_ngrams over a raw text column
        # re-tokenizes per shingle index (quadratic per doc)
        toks
        .select(
            F.col(id_col),
            F.explode_outer(
                F.array_distinct(word_ngrams_from_tokens(F.col("__toks"), ngram))
            ).alias("sh"),
        )
    )
    return shingles.groupBy(id_col).agg(
        *[F.min(_mh(F.col("sh"), i)).alias(f"m{i}") for i in range(num_hashes)]
    )


def minhash_bands(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    ngram: int = 3,
    expand_parallelism: int | None = None,
) -> DataFrame:
    """LSH banding: (id, band, band_key) — docs sharing a band_key within a
    band are near-dup candidates. band_key = md5 of the band's slice of the
    signature.

    Shape: explode shingles once → ``num_hashes`` md5s per (doc, shingle)
    row → map-side min-aggregate back to one signature row per doc. The
    per-row-array alternative (minhash_signature) re-evaluates the shingle
    array per hash function inside one giant expression — measured 60×
    slower at sf0.1 (96 s → 1.5 s) and it cannot partial-aggregate. Here
    the heavy md5 work streams through whole-stage codegen and the only
    shuffle carries one row per doc. explode_outer keeps shingle-less
    docs (empty signature ⇒ md5('') band key, same as the array form).

    ``expand_parallelism``: optionally repartition the (id, tokens) rows
    BEFORE the explode. The shingle expansion + num_hashes md5s per
    shingle is the CPU-heavy part, and it runs in the scan stage (the
    partial min-agg keeps it map-side) — so its parallelism is capped by
    the scan's task count. When the input has fewer splits than cores
    (few/large files, one row group), shuffling the small pre-explode
    rows (one per doc) is cheap insurance that the expansion uses the
    whole cluster. Leave None when the scan already fans wide.
    """
    sig = minhash_signatures(
        df, text_col, id_col, num_hashes, ngram, expand_parallelism
    )
    return bands_from_signatures(sig, id_col, num_hashes, bands)


def bands_from_signatures(
    sig: DataFrame, id_col: str, num_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """Banding over an existing (id, m0..m{n-1}) signature frame — the
    narrow-map tail of minhash_bands, split out so a consumer that needs
    BOTH the bands and the raw signatures (minhash_estimated_jaccard)
    computes the expensive signature pipeline once."""
    rows_per_band = num_hashes // bands
    return sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws("|", *[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)])
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def minhash_candidate_pairs(bands_df: DataFrame, id_col: str) -> DataFrame:
    """Self-join inside (band, band_key) buckets → candidate pairs (a<b).
    This is the scale path: the shuffle key is the bucket, not the pair.

    CLOSED (round-13 A/B, pairs verified identical): prefiltering both
    join sides to buckets with ≥2 members (guide §3.2's cut-the-big-
    side-before-the-shuffle, via a map-side-combined bucket count +
    semi-join) LOSES at fixture scale (interleaved medians 1.09 s plain
    vs 1.66 s prefiltered): the count pass re-runs the fused
    tokenize→minhash band pipeline once more per side (plan: 4→8 scans)
    while the self-join sides here are broadcast, so there is no
    exchange to shrink. The prefilter pays off only where the bands
    frame is MATERIALIZED (the production corpus path writes bands to
    parquet before pair generation — then the singleton-bucket cut is
    one cheap count over stored narrow rows and the join exchanges
    carry colliding rows only); that is a storage decision, the same
    call as the PPJoin token-table note (round 12)."""
    a = bands_df.select(F.col(id_col).alias("id_a"), "band", "band_key")
    b = bands_df.select(F.col(id_col).alias("id_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# bounded FIFO of pinned signature frames (shared helper — see
# django_indexer_spark.caching for the ownership rules)
from ..caching import BoundedFrameCache

_SIG_CACHE = BoundedFrameCache(slots=4)


def minhash_estimated_jaccard(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    ngram: int = 3,
    expand_parallelism: int | None = None,
) -> DataFrame:
    """LSH candidate pairs scored by SIGNATURE-level Jaccard estimate:
    est_jaccard = (# agreeing minhash components) / num_hashes — the
    standard O(num_hashes) triage between candidate generation and the
    exact n-gram verify (ngram_jaccard_pairs), which re-reads both
    documents' full shingle sets. At 100 TB the estimate prunes the
    candidate list so the expensive exact verify touches only
    plausibly-similar pairs.

    Returns (id_a, id_b, n_agree, est_jaccard). Banding and scoring both
    derive from ONE persisted signature frame (one row per doc — tiny
    next to the shingle expansion that produces it, so MEMORY_AND_DISK
    is safe at any corpus size): without it the tokenize→explode→
    8×md5-per-shingle pipeline re-runs for each of its three consumers
    (bands, a-side join, b-side join) — measured 1.9× slower at sf0.1.
    The pair→signature joins are uniform-keyed on the doc id. E[est] =
    true Jaccard of the shingle sets; num_hashes bounds the variance.

    Cache ownership: the function returns a LAZY frame, so it cannot
    unpersist its own signature cache — ownership goes to the shared
    lock-guarded bounded FIFO (caching.BoundedFrameCache, 4 slots): a
    bench/test loop can't accumulate pinned copies, and recent calls'
    unconsumed plans keep their backing frame cached."""
    sig = _SIG_CACHE.pin(
        minhash_signatures(
            df, text_col, id_col, num_hashes, ngram, expand_parallelism
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs = minhash_candidate_pairs(
        bands_from_signatures(sig, id_col, num_hashes, bands), id_col
    )
    sig_a = sig.select(
        F.col(id_col).alias("id_a"), *[F.col(f"m{i}").alias(f"a{i}") for i in range(num_hashes)]
    )
    sig_b = sig.select(
        F.col(id_col).alias("id_b"), *[F.col(f"m{i}").alias(f"b{i}") for i in range(num_hashes)]
    )
    n_agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(num_hashes)
    )
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select(
            "id_a",
            "id_b",
            n_agree.cast("long").alias("n_agree"),
            (n_agree / F.lit(float(num_hashes))).alias("est_jaccard"),
        )
    )


def near_dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    max_iter: int = 25,
) -> DataFrame:
    """Near-dup candidate pairs → transitive clusters → canonical pick.

    Near-duplication is transitive in practice (A~B, B~C ⇒ drop all but
    one of {A,B,C}), so the keep/drop decision runs on the CONNECTED
    COMPONENTS of the pair graph, not on pairs. Returns one row per doc:

      (id, cluster_id, cluster_size, is_canonical)

    cluster_id = min doc id of the component (singletons: own id) — a
    deterministic canonical representative, matching exact_dedup's
    min-id policy. Downstream keeps ``is_canonical`` rows.

    Scale: components via iterative min-label propagation over the pairs
    (operators/graph.py — O(diameter) shuffle rounds on the PAIR graph,
    which is tiny relative to the corpus); the corpus-wide work is ONE
    left join on the id. Cluster sizes fold over the COMPONENT frame
    (pair-graph-sized — every non-singleton member appears in it), not
    over the corpus: singletons always have size 1, so counting them
    per cluster was a corpus-wide groupBy + a corpus×corpus join for a
    constant (round 13, guide §2.3 — the old shape also recomputed the
    docs⋈comp join twice, once per consumer of the labeled frame; now
    the labeled frame has one consumer and the sizes join is
    pair-graph-sized and broadcast-eligible).
    """
    comp = connected_components(pairs, src="id_a", dst="id_b", max_iter=max_iter)
    # a singleton's cluster_id is its OWN id, which never equals a
    # component label (labels are min MEMBER ids and members all appear
    # in comp) — so the size join below misses exactly the singletons,
    # whose size is 1 by definition.
    comp_sizes = comp.groupBy(F.col("component").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("__csize")
    )
    labeled = (
        docs.select(F.col(id_col))
        .join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
    )
    return labeled.join(comp_sizes, "cluster_id", "left").select(
        id_col,
        "cluster_id",
        F.coalesce("__csize", F.lit(1).cast("long")).alias("cluster_size"),
        (F.col(id_col) == F.col("cluster_id")).alias("is_canonical"),
    )


def duplicate_ngram_fraction(
    df: DataFrame, text_col: str, id_col: str, n: int = 8
) -> DataFrame:
    """Cross-document duplicated-n-gram fraction (the Gopher/Dolma
    "fraction of text inside duplicated n-grams" quality signal, and the
    relational stand-in for exact-substring dedup à la Lee et al. 2021):
    per document, the share of its n-gram INSTANCES whose n-gram also
    appears in at least one OTHER document.

      (id, n_grams, dup_grams, dup_frac_bp)

    dup_frac_bp uses integer basis points (dup*10000 div total) so the
    value is bit-exact cross-engine. Docs shorter than n tokens have no
    n-grams → 0/0/0.

    Scale: explode → two shuffles, one keyed on the gram text (uniform —
    natural-language gram frequencies are zipfian but the heavy grams are
    exactly what the metric measures; a salted two-level countDistinct
    handles adversarial skew), one keyed back on the doc id. Both
    partial-aggregate map-side.
    """
    toks = df.select(F.col(id_col), tokenize(text_col).alias("__toks"))
    grams = toks.select(
        F.col(id_col),
        F.explode(word_ngrams_from_tokens(F.col("__toks"), n)).alias("gram"),
    ).filter(F.size(F.split(F.col("gram"), " ")) >= n)
    # how many distinct docs contain each gram
    gram_docs = grams.groupBy("gram").agg(
        F.countDistinct(id_col).alias("__n_docs")
    )
    per_doc = (
        grams.join(gram_docs, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("__n_docs") >= 2, 1).otherwise(0)).alias("dup_grams"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("dup_grams", F.lit(0)).cast("long").alias("dup_grams"),
            F.coalesce(
                F.expr("dup_grams * 10000 div n_grams"), F.lit(0)
            ).cast("long").alias("dup_frac_bp"),
        )
    )


def source_overlap_matrix(
    df: DataFrame, text_col: str, group_col: str, n: int = 8
) -> DataFrame:
    """Cross-source n-gram overlap matrix: for every pair of corpus
    sources, how many distinct n-grams they share and the Jaccard overlap
    in basis points. The between-dumps twin of duplicate_ngram_fraction's
    within-corpus signal — it answers "which sources re-crawl each other"
    (CommonCrawl snapshots, mirrored sites) and prioritizes which source
    pairs need cross-dedup before training.

      (s1, s2, n1, n2, n_common, jaccard_bp)   for all s1 < s2

    Exact, integer-only (DIV basis points) → bit-stable cross-engine.

    Scale shape: one distinct over (source, gram) — map-side partial —
    then a self-equi-join keyed on the GRAM. Per-gram fanout is bounded
    by the number of sources containing it (≤ |S|, and the output matrix
    is |S|²/2 rows — driver-safe for any realistic source count), so the
    join never goes all-pairs over documents. The full matrix comes from
    the tiny sizes⨯sizes frame left-joined to the observed overlaps, so
    zero-overlap pairs appear explicitly."""
    toks = df.select(F.col(group_col).alias("src"), tokenize(text_col).alias("__toks"))
    grams = (
        toks.select(
            "src", F.explode(word_ngrams_from_tokens(F.col("__toks"), n)).alias("gram")
        )
        .filter(F.size(F.split(F.col("gram"), " ")) >= n)
        .distinct()
    )
    sizes = grams.groupBy("src").agg(F.count(F.lit(1)).alias("n_grams"))
    a, b = grams.alias("a"), grams.alias("b")
    common = (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.src") < F.col("b.src")))
        .groupBy(F.col("a.src").alias("s1"), F.col("b.src").alias("s2"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    pairs = sa.join(sb, F.col("sa.src") < F.col("sb.src")).select(
        F.col("sa.src").alias("s1"),
        F.col("sb.src").alias("s2"),
        F.col("sa.n_grams").alias("n1"),
        F.col("sb.n_grams").alias("n2"),
    )
    return pairs.join(common, ["s1", "s2"], "left").select(
        "s1",
        "s2",
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
        F.coalesce(
            F.expr("n_common * 10000 div (n1 + n2 - n_common)"), F.lit(0)
        ).cast("long").alias("jaccard_bp"),
    )


ROLLING_MOD = 2147483647  # 2^31-1: keeps acc*31+code inside int64


def rolling_hash(word: Column) -> Column:
    """Portable 31-polynomial rolling hash over character codes — the
    'document fingerprinting (rolling hash)' primitive, and the word hash
    for simhash. Chosen over md5-hex→int because hex→int conversion is not
    portable SQL; a left fold of (acc*31 + ascii) % (2^31-1) is exact and
    identical in any engine with list-reduce semantics."""
    codes = F.transform(
        F.sequence(F.lit(1), F.length(word)), lambda i: F.ascii(word.substr(i, F.lit(1)))
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c) % ROLLING_MOD,
    )


def simhash_table(df: DataFrame, text_col: str, id_col: str, bits: int = 32) -> DataFrame:
    """SimHash per document, relationally: explode distinct words, hash
    each with the rolling hash, let every bit vote +1/-1 per word, sign of
    the vote sets the output bit. Near-dups ⇒ small Hamming distance.

    The explode/groupBy shape (instead of one giant per-row array
    expression) is deliberate: at 100 TB the per-(doc,word) rows shuffle
    once and partial-aggregate map-side; 32 conditional sums fuse into one
    whole-stage-codegen pass."""
    words = df.select(F.col(id_col), F.explode(word_set(text_col)).alias("w"))
    h = rolling_hash(F.col("w"))
    votes = words.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1))
            ).alias(f"v{i}")
            for i in range(bits)
        ]
    )
    sim = None
    for i in range(bits):
        term = F.when(F.col(f"v{i}") > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return votes.select(F.col(id_col), sim.alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_cols: list[str] | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-set Jaccard similarity between document pairs, relationally:

        explode distinct words → self-join on word → |A∩B| per pair
        |A∪B| = |A| + |B| - |A∩B|

    ``group_cols`` optionally restricts pairs to the same group (in
    production: the LSH bucket from minhash_candidate_pairs; in the oracle
    fixture: (lang, source) to bound the pair count). The join is keyed on
    the word — fully distributed, no cross join.
    """
    group_cols = group_cols or []
    words = df.select(
        F.col(id_col).alias("doc"),
        *[F.col(c) for c in group_cols],
        F.explode(word_set(text_col)).alias("w"),
    )
    sizes = words.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    a = words.select(F.col("doc").alias("doc_a"), *[F.col(c) for c in group_cols], "w")
    b = words.select(
        F.col("doc").alias("doc_b"),
        *[F.col(c).alias(f"__g_{c}") for c in group_cols],
        F.col("w").alias("__w_b"),  # renamed: self-join attribute ambiguity
    )
    cond = [a["w"] == b["__w_b"]] + [a[c] == b[f"__g_{c}"] for c in group_cols]
    inter = (
        a.join(b, cond)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "n_a", "n_b", "jaccard")
    )


def ppjoin_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold_num: int = 4,
    threshold_den: int = 5,
    dp: int = 6,
    ngram: int = 1,
) -> DataFrame:
    """All-pairs token-set Jaccard ≥ t via PPJoin-style PREFIX, LENGTH
    and POSITIONAL filtering — the corpus-global scale path where
    ``ngram_jaccard_pairs``'s group blocking can't be assumed and LSH's
    false negatives can't be afforded. LOSSLESS for Jaccard ≥ t: order
    all tokens by global rarity (document frequency ASC, token ASC —
    one total order for the whole corpus); a doc of n distinct tokens
    emits only its n − ⌈t·n⌉ + 1 rarest as join keys. If J(A,B) ≥ t,
    the rarest SHARED token provably sits inside both prefixes (else
    the shared set would fit in a suffix smaller than t·n), so the
    prefix equi-join finds every qualifying pair; frequent tokens —
    the quadratic blowup keys — never leave the prefix filter.

    ``ngram`` picks the token universe: 1 = distinct words, n>1 =
    distinct word n-gram shingles (docs with fewer than n words emit
    no shingles and drop out). Shingling matters at scale: natural
    corpora have small WORD vocabularies with near-flat document
    frequency (this repo's documents table: 31 words, ~78% df each),
    which makes every word a hot join key AND makes most doc pairs
    genuinely similar — all-pairs output itself goes quadratic.
    Shingle sets are sparse (vocab ~27k at sf0.1, max df 25), so both
    the candidate join and the qualifying-pair count stay near-linear.

    Two further PPJoin prunes, both applied INSIDE the prefix join so
    pruned candidates never reach the verify arrays:
    - length filter: J(A,B) ≥ t ⟹ t·|A| ≤ |B| ∧ t·|B| ≤ |A|,
      checked as integer cross-multiplication;
    - positional filter: a shared token at (1-based) global sort
      positions (pa, pb) bounds the overlap by 1 + min(n_a−pa,
      n_b−pb), which must reach ⌈t/(1+t)·(n_a+n_b)⌉. Lossless per
      pair: the FIRST shared token of a qualifying pair always
      passes, and one surviving match is enough to keep the pair.

    t is taken as the exact fraction ``threshold_num/threshold_den``
    so ⌈t·n⌉ is INTEGER arithmetic ((num·n + den − 1) DIV den): a
    float ceil that lands one high would silently shorten the prefix
    and break losslessness in the unsafe direction.

    Shape: token-keyed joins only (words⋈df-counts, prefix⋈prefix),
    never docs×docs; the exact verify joins the candidate list back to
    the per-doc sorted token arrays (arrays ride one hash join each
    side) and re-checks J on full sets, pinned ``dp`` dp. Shuffle ∝
    Σ prefix-bucket occupancy² — bounded by rare-token frequencies by
    construction."""
    pow10 = float(10**dp)
    thr = threshold_num / threshold_den
    if ngram <= 1:
        words = df.select(
            F.col(id_col).alias("doc"), F.explode(word_set(text_col)).alias("w")
        )
    else:
        # materialize tokens first (shingling over a raw text column
        # re-tokenizes per shingle index), and explode IN THE SAME
        # projection that builds the shingle array: a select(array)
        # followed by a separate explode lets InferFiltersFromGenerate
        # push a size()>0 filter through the projection with full alias
        # substitution — the tokenizer ends up inlined per element
        # access inside the lambda (measured 10× on sf0.1 documents)
        words = (
            df.select(
                F.col(id_col).alias("doc"), tokenize(text_col).alias("__w0")
            )
            .filter(F.size("__w0") >= ngram)
            .select(
                "doc",
                F.explode(
                    F.array_distinct(
                        word_ngrams_from_tokens(F.col("__w0"), ngram)
                    )
                ).alias("w"),
            )
        )
    dfreq = words.groupBy("w").agg(F.count(F.lit(1)).alias("__df"))
    docs = (
        words.join(dfreq, "w")
        .groupBy("doc")
        .agg(
            F.array_sort(F.collect_list(F.struct("__df", "w"))).alias("__s"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .withColumn(
            "__plen",
            F.col("n")
            - F.expr(
                f"({threshold_num} * n + {threshold_den} - 1) "
                f"DIV {threshold_den}"
            )
            + 1,
        )
    )
    pref = docs.select(
        "doc",
        "n",
        F.posexplode(F.expr("slice(__s, 1, __plen)")).alias("__i", "__p"),
    ).select(
        "doc", "n", (F.col("__i") + 1).cast("long").alias("pos"),
        F.col("__p.w").alias("w"),
    )
    pa = pref.select(
        F.col("doc").alias("doc_a"), F.col("n").alias("__na"),
        F.col("pos").alias("__pa"), "w",
    )
    pb = pref.select(
        F.col("doc").alias("doc_b"), F.col("n").alias("__nb"),
        F.col("pos").alias("__pb"), F.col("w").alias("__wb"),
    )
    num, den = threshold_num, threshold_den
    cand = (
        pa.join(pb, F.col("w") == F.col("__wb"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        # length filter: t·max(n_a,n_b) ≤ min(n_a,n_b), integer form
        .filter(
            (F.lit(num) * F.col("__na") <= F.lit(den) * F.col("__nb"))
            & (F.lit(num) * F.col("__nb") <= F.lit(den) * F.col("__na"))
        )
        # positional filter: overlap upper bound from this match's
        # positions must reach the required overlap ⌈t/(1+t)·(na+nb)⌉
        .filter(
            F.lit(1)
            + F.least(
                F.col("__na") - F.col("__pa"), F.col("__nb") - F.col("__pb")
            )
            >= F.expr(
                f"({num} * (__na + __nb) + {num} + {den} - 1) "
                f"DIV ({num} + {den})"
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sets = docs.select(
        "doc",
        F.expr("transform(__s, x -> x.w)").alias("__t"),
        "n",
    )
    inter = F.size(F.array_intersect(F.col("__ta"), F.col("__tb"))).cast(
        "long"
    )
    jac = F.floor(
        inter.cast("double")
        / (F.col("n_a") + F.col("n_b") - inter).cast("double")
        * F.lit(pow10)
        + F.lit(0.5)
    ) / F.lit(pow10)
    return (
        cand.join(
            sets.select(
                F.col("doc").alias("doc_a"),
                F.col("__t").alias("__ta"),
                F.col("n").alias("n_a"),
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc").alias("doc_b"),
                F.col("__t").alias("__tb"),
                F.col("n").alias("n_b"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            inter.alias("n_inter"),
            "n_a",
            "n_b",
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(thr))
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold_num: int = 9,
    threshold_den: int = 10,
    dp: int = 6,
    ngram: int = 3,
) -> DataFrame:
    """ASYMMETRIC containment join: ordered pairs (a, b), a ≠ b, with
    C(A→B) = |A∩B| / |A| ≥ t — "doc a is mostly contained in doc b",
    the quote/excerpt/superset detector Jaccard misses (a short quote
    inside a long doc has tiny Jaccard but containment ≈ 1; this is the
    decontamination primitive when benchmarks hide INSIDE training
    documents rather than equaling them).

    Same lossless rarity-prefix theorem as [ppjoin_pairs], asymmetric
    form: order tokens by global rarity (df ASC, token ASC); a doc of n
    distinct tokens emits its n − ⌈t·n⌉ + 1 rarest as PROBE keys, but
    the indexed side posts ALL its tokens — if C(A→B) ≥ t, the rarest
    shared token sits inside A's prefix (else the shared ⌈t·n_a⌉ tokens
    would fit in A's suffix, too small), and it is somewhere in B by
    definition. Two prunes ride inside the join: |B| ≥ ⌈t·|A|⌉ (the
    overlap can't exceed |B|) and the positional bound
    1 + min(n_a−pa, n_b−pb) ≥ ⌈t·n_a⌉ over the shared token's rank
    positions. Integer ceils throughout ((num·n + den − 1) DIV den).

    Shape: probe-prefix ⋈ full-postings on token (shuffle ∝
    Σ_w prefix_df(w)·df(w) — rare tokens by construction), then the
    exact verify joins candidate pairs back to the per-doc sorted
    arrays; containment pinned ``dp`` dp. ``ngram`` as in ppjoin_pairs
    (word n-gram shingles keep the token universe sparse)."""
    pow10 = float(10**dp)
    thr = threshold_num / threshold_den
    num, den = threshold_num, threshold_den
    if ngram <= 1:
        words = df.select(
            F.col(id_col).alias("doc"), F.explode(word_set(text_col)).alias("w")
        )
    else:
        # one-step explode: see ppjoin_pairs for the
        # InferFiltersFromGenerate re-inlining trap this avoids
        words = (
            df.select(
                F.col(id_col).alias("doc"), tokenize(text_col).alias("__w0")
            )
            .filter(F.size("__w0") >= ngram)
            .select(
                "doc",
                F.explode(
                    F.array_distinct(
                        word_ngrams_from_tokens(F.col("__w0"), ngram)
                    )
                ).alias("w"),
            )
        )
    dfreq = words.groupBy("w").agg(F.count(F.lit(1)).alias("__df"))
    docs = (
        words.join(dfreq, "w")
        .groupBy("doc")
        .agg(
            F.array_sort(F.collect_list(F.struct("__df", "w"))).alias("__s"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .withColumn(
            "__plen",
            F.col("n")
            - F.expr(f"({num} * n + {den} - 1) DIV {den}")
            + 1,
        )
    )
    probe = docs.select(
        "doc",
        "n",
        F.posexplode(F.expr("slice(__s, 1, __plen)")).alias("__i", "__p"),
    ).select(
        F.col("doc").alias("doc_a"),
        F.col("n").alias("__na"),
        (F.col("__i") + 1).cast("long").alias("__pa"),
        F.col("__p.w").alias("w"),
    )
    post = docs.select(
        "doc", "n", F.posexplode("__s").alias("__i", "__p")
    ).select(
        F.col("doc").alias("doc_b"),
        F.col("n").alias("__nb"),
        (F.col("__i") + 1).cast("long").alias("__pb"),
        F.col("__p.w").alias("__wb"),
    )
    need = F.expr(f"({num} * __na + {den} - 1) DIV {den}")
    cand = (
        probe.join(post, F.col("w") == F.col("__wb"))
        .filter(F.col("doc_a") != F.col("doc_b"))
        .filter(F.col("__nb") >= need)
        .filter(
            F.lit(1)
            + F.least(
                F.col("__na") - F.col("__pa"), F.col("__nb") - F.col("__pb")
            )
            >= need
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sets = docs.select(
        "doc", F.expr("transform(__s, x -> x.w)").alias("__t"), "n"
    )
    inter = F.size(F.array_intersect(F.col("__ta"), F.col("__tb"))).cast(
        "long"
    )
    cont = F.floor(
        inter.cast("double") / F.col("n_a").cast("double") * F.lit(pow10)
        + F.lit(0.5)
    ) / F.lit(pow10)
    return (
        cand.join(
            sets.select(
                F.col("doc").alias("doc_a"),
                F.col("__t").alias("__ta"),
                F.col("n").alias("n_a"),
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc").alias("doc_b"),
                F.col("__t").alias("__tb"),
                F.col("n").alias("n_b"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            inter.alias("n_inter"),
            "n_a",
            "n_b",
            cont.alias("containment"),
        )
        .filter(F.col("containment") >= F.lit(thr))
    )


def content_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 8,
    divisor: int = 64,
) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS primitive): cut each
    payload where a rolling fingerprint of the trailing ``window``
    bytes hits 0 mod ``divisor``, so chunk boundaries depend on CONTENT,
    not offsets — insert one byte near the front and only the touched
    chunk's hash changes, unlike fixed-size blocks where every
    subsequent block shifts. The chunk-manifest output (doc, idx,
    start, length, chunk md5) is what block-level dedup stores and
    diffs at 100 TB; expected chunk length ≈ ``divisor`` chars.

    Engine-portable fingerprint: md5 of the ``window``-char substring
    at each position (1-based substr on both engines), first 8 hex
    digits mod ``divisor`` — heavier than a true rolling polynomial
    but bit-identical everywhere; production swaps in a Rabin hash,
    the boundary SEMANTICS (and this gate's manifest shape) stay.

    Shape: the position scan is a per-row array transform (zero
    shuffle, cost ∝ corpus chars); chunk assembly is one posexplode +
    one lead() over a per-doc window (rows = chunks, bounded by
    len/divisor). Payloads shorter than window+1 become one chunk."""
    h = (
        f"CAST(conv(substr(md5(substr({text_col}, i, {window})), 1, 8), "
        f"16, 10) AS BIGINT) % {divisor} = 0"
    )
    starts = F.expr(
        f"concat(array(1), CASE WHEN length({text_col}) >= {window + 1} "
        f"THEN filter(sequence(2, length({text_col}) - {window - 1}), "
        f"i -> {h}) ELSE array() END)"
    )
    pos = df.select(
        F.col(id_col).alias("doc"),
        F.col(text_col).alias("__txt"),
        F.length(text_col).cast("long").alias("__len"),
        F.posexplode(starts).alias("__i", "__start"),
    )
    w = Window.partitionBy("doc").orderBy("__i")
    nxt = F.lead("__start").over(w)
    chunks = pos.select(
        "doc",
        (F.col("__i") + 1).cast("long").alias("chunk_idx"),
        F.col("__start").cast("long").alias("start"),
        (
            F.coalesce(nxt, F.col("__len") + 1) - F.col("__start")
        ).cast("long").alias("length"),
        "__txt",
    )
    return chunks.select(
        "doc",
        "chunk_idx",
        "start",
        "length",
        F.md5(F.expr("substr(__txt, start, length)")).alias("chunk_md5"),
    )


def _bloom_positions(key: Column, m_bits: int, k_hashes: int, salt: str) -> Column:
    """The k bit positions of one key: position_i = first 24 md5 bits
    of '<salt><i>:<key>' mod m_bits — the ``sampling.hash_bucket``
    arithmetic, one salted hash per slot, so every position renders
    exactly in DuckDB. m_bits <= 2^24 keeps the fold's 24 bits
    uniform over the modulus range."""
    return F.array(
        *[
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{salt}{i}:"), key.cast("string"))),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("long")
            % m_bits
            for i in range(k_hashes)
        ]
    )


def bloom_bits(
    df: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    k_hashes: int = 3,
    salt: str = "bloom",
) -> DataFrame:
    """Distributed Bloom-filter BUILD as a relation: the distinct set
    bit positions (``bit`` long) of every key's k salted hashes — the
    sparse relational form of the classic "have we crawled this URL /
    ingested this fingerprint" membership structure. Properties the
    table form keeps from the bitmap form, at 100 TB:

    - bounded: <= m_bits rows no matter the corpus size (the filter,
      not the data);
    - mergeable monoid: union-distinct of two builds IS the filter of
      the union — shard/day/stream partial builds fold associatively
      (the incremental-index pattern);
    - no false negatives, tunable false positives (~(1-e^(-kn/m))^k).

    One shuffle (the distinct on bit); a production deploy folds the
    table into an actual bitmap with bit_or over chunked positions —
    the relational form is what the probe join consumes."""
    key = F.col(key_col)
    return (
        df.select(
            F.explode(_bloom_positions(key, m_bits, k_hashes, salt)).alias("bit")
        )
        .distinct()
    )


def bloom_probe(
    df: DataFrame,
    bits: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    k_hashes: int = 3,
    salt: str = "bloom",
) -> DataFrame:
    """Probe: append ``maybe_seen`` — TRUE iff ALL k of the key's bit
    positions are set in ``bits`` (the Bloom contract: false positives
    possible, false negatives impossible). Relational shape: explode
    the k positions (k rows per key), equi-join the bits table
    (Catalyst broadcasts when the filter fits — m_bits rows max —
    else a sound shuffle join), count hits per key == k. One key
    shuffle; the filter never grows with the probe corpus."""
    key = F.col(key_col)
    # distinct keys first: a key repeated in the probe frame would
    # otherwise contribute 2k exploded rows and break the count==k test
    probes = df.select(key.alias("__key")).distinct().select(
        "__key",
        F.explode(
            _bloom_positions(F.col("__key"), m_bits, k_hashes, salt)
        ).alias("bit"),
    )
    hits = (
        probes.join(bits.withColumn("__set", F.lit(1)), "bit", "left")
        .groupBy("__key")
        .agg((F.count("__set") == k_hashes).alias("maybe_seen"))
    )
    return df.join(
        hits, df[key_col] == hits["__key"], "left"
    ).select(*df.columns, F.coalesce("maybe_seen", F.lit(False)).alias("maybe_seen"))
