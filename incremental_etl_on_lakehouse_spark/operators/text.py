"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are built-in Catalyst functions (JVM, whole-stage
codegen) — no Python UDFs — so they vectorize and scale linearly with
partitions. Designed against the ``documents`` table
(doc_id, text, lang, source, n_chars).

Operators:
- ``tokenize`` / ``token_stats``: whitespace + BPE-ish regex token counting.
- ``quality_score``: length / punctuation / stopword / repetition heuristics
  (the classic Gopher/C4-style quality filters).
- ``language_id``: character n-gram profile scoring, pure SQL expressions.
- ``fingerprint``: normalized content fingerprint (md5) + shingle set for
  near-dup work in :mod:`.dedup`.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A BPE-ish word/number/punctuation splitter: letter runs, digit runs, or a
# single non-space symbol — roughly what byte-pair pretokenizers produce.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "be", "this", "that", "are",
]


def normalize_text(col: Column) -> Column:
    """Lowercase, strip non-alphanumerics, collapse whitespace."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def ws_tokens(col: Column) -> Column:
    """Whitespace tokenization of normalized text."""
    return F.split(normalize_text(col), " ")


def token_count_ws(col: Column) -> Column:
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(col), r"\s+"))
    )


def token_count_bpe(col: Column) -> Column:
    """Count of BPE-ish tokens via regexp_count — letters, digits, symbols."""
    return F.regexp_count(col, F.lit(BPE_TOKEN_RE))


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token statistics; one narrow projection, no shuffle."""
    t = F.col(text_col)
    return df.select(
        "doc_id",
        token_count_ws(t).alias("n_tokens_ws"),
        token_count_bpe(t).alias("n_tokens_bpe"),
        F.length(t).alias("n_chars"),
        (F.length(t) / F.greatest(token_count_ws(t), F.lit(1))).alias("chars_per_token"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality signals + a composite score in [0, 1].

    Signals (all codegen-able):
    - length score: saturating ramp on character count,
    - alpha ratio: alphabetic chars / all non-space chars,
    - stopword count: tokens that are common stopwords (occurrences)
      (natural text has some; keyword spam has none),
    - repetition: distinct-token ratio (boilerplate repeats tokens).
    """
    t = F.col(text_col)
    # drop the empty token F.split yields for empty/whitespace-only text:
    # without it an empty doc scores n_tokens=1 and a perfect
    # distinct-token ratio (matches the oracle's list_filter(x <> ''))
    toks = F.filter(ws_tokens(t), lambda x: x != "")
    n_tok = F.greatest(F.size(toks), F.lit(1))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    # occurrences, not distinct types: 'the the the spam' has 3 stopword
    # tokens — array_intersect would dedupe to 1 and score repetitive
    # boilerplate the same as a single-stopword doc
    n_stop = F.size(F.filter(toks, lambda tk: F.array_contains(stop_arr, tk)))
    distinct_ratio = F.size(F.array_distinct(toks)) / n_tok
    nonspace = F.regexp_replace(t, r"\s", "")
    alpha_ratio = F.when(F.length(nonspace) == 0, 0.0).otherwise(
        F.regexp_count(t, F.lit(r"[A-Za-z]")) / F.length(nonspace)
    )
    len_score = F.least(F.length(t) / F.lit(500.0), F.lit(1.0))
    stop_score = F.least(n_stop / F.lit(3.0), F.lit(1.0))
    composite = (
        0.25 * len_score + 0.25 * alpha_ratio + 0.25 * stop_score + 0.25 * distinct_ratio
    )
    return df.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(distinct_ratio, 6).alias("distinct_token_ratio"),
        n_stop.alias("n_stopwords"),
        F.round(composite, 6).alias("quality_score"),
    )


# Character-trigram profiles per language — tiny, deterministic, embedded.
# Real deployments plug in fastText et al. via mapInPandas; the operator shape
# (narrow projection + argmax over per-language scores) is identical.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "ing", "ion", "ent"],
    "es": ["que", "los", "ent", "ado", "cio"],
    "fr": ["les", "ent", "que", "des", "ion"],
    "de": ["der", "die", "und", "ein", "sch"],
    "zh": ["zh_", "ng_", "sh_", "ian", "ang"],
}


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram-profile language guess: score = sum of profile-trigram hits."""
    t = normalize_text(F.col(text_col))
    scores = [
        sum(
            (F.regexp_count(t, F.lit(tri)) for tri in tris),
            start=F.lit(0),
        ).alias(f"score_{lang}")
        for lang, tris in LANG_PROFILES.items()
    ]
    scored = df.select("doc_id", *scores)
    langs = list(LANG_PROFILES)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    # argmax with deterministic first-wins tie-break
    expr = None
    for lang in langs:
        cond = F.col(f"score_{lang}") == best
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return scored.select(
        "doc_id", *[F.col(f"score_{lang}") for lang in langs], expr.alias("lang_guess")
    )


def repetition_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021
    §A1.1; the same family RefinedWeb/C4 filter on): duplicate-line
    fraction, duplicate-line character fraction, and top word-bigram
    character fraction — plus the composite ``gopher_flagged`` verdict.

    All outputs are integer-exact (counts, not ratios) and the thresholds
    are restated in integer arithmetic (``10*dup > 3*n`` instead of
    ``dup/n > 0.3``), so no float division can flip a verdict between
    engines. One narrow codegen projection: zero shuffles, scan-bound —
    the ideal 100 TB shape. The per-document work is O(distinct-lines x
    lines) + O(distinct-bigrams x bigrams) inside higher-order functions;
    for corpora with multi-megabyte documents, rewrite the line metrics
    as ``posexplode -> groupBy(doc_id, xxhash64(line)) -> groupBy(doc_id)``
    (two uniform-key shuffles) instead — same outputs, linear per doc.

    The token arrays are let-bound via a single-element ``transform``
    before any per-element lambda runs (see :func:`shingles` — unbound,
    Catalyst re-inlines the split+filter once per element, measured ~30x).
    """
    t = F.col(text_col)
    L = lambda c: c.cast("long")  # noqa: E731
    ls = F.filter(F.split(t, "\n"), lambda x: x != F.lit(""))
    ws = F.filter(F.split(t, r"\s+"), lambda x: x != F.lit(""))

    def line_metrics(bls: Column) -> Column:
        per_distinct = F.transform(
            F.array_distinct(bls),
            lambda d: F.struct(
                L(F.length(d)).alias("len"),
                L(F.size(F.filter(bls, lambda x: x == d))).alias("cnt"),
            ),
        )
        return F.struct(
            L(F.size(bls)).alias("n_lines"),
            L(F.size(bls) - F.size(F.array_distinct(bls))).alias("n_dup_lines"),
            F.aggregate(
                bls, F.lit(0).cast("long"), lambda a, x: a + L(F.length(x))
            ).alias("total_line_chars"),
            F.aggregate(
                per_distinct,
                F.lit(0).cast("long"),
                lambda a, s: a
                + F.when(s["cnt"] > 1, s["len"] * s["cnt"]).otherwise(
                    F.lit(0).cast("long")
                ),
            ).alias("dup_line_chars"),
        )

    def bigram_top_chars(bws: Column) -> Column:
        # word bigrams, 1-indexed like the oracle's ws[i] || ' ' || ws[i+1];
        # chars per occurrence = length(g) - 1 (the two words, not the
        # joining space). slice(_, 1, 0) is the empty-array literal for the
        # under-2-words branch (codegen evaluates only the taken branch, so
        # element_at(bws, 0) is never touched there).
        grams_expr = F.when(
            F.size(bws) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(bws) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(bws, i), F.element_at(bws, i + 1)
                ),
            ),
        ).otherwise(F.slice(bws, 1, 0))
        # only REPEATED bigrams count (cnt >= 2): a single occurrence of a
        # long bigram is not repetition, and in short documents it would
        # trivially dominate the char fraction
        return F.element_at(
            F.transform(
                F.array(grams_expr),
                lambda grams: F.coalesce(
                    F.array_max(
                        F.transform(
                            F.transform(
                                F.array_distinct(grams),
                                lambda g: F.struct(
                                    L(F.length(g) - 1).alias("chars"),
                                    L(
                                        F.size(F.filter(grams, lambda x: x == g))
                                    ).alias("cnt"),
                                ),
                            ),
                            lambda s: F.when(
                                s["cnt"] >= 2, s["chars"] * s["cnt"]
                            ).otherwise(F.lit(0).cast("long")),
                        )
                    ),
                    F.lit(0).cast("long"),
                ),
            ),
            1,
        )

    def metrics(b: Column) -> Column:
        return F.struct(
            line_metrics(b["ls"]).alias("lm"),
            F.aggregate(
                b["ws"], F.lit(0).cast("long"), lambda a, x: a + L(F.length(x))
            ).alias("total_word_chars"),
            bigram_top_chars(b["ws"]).alias("top_bigram_chars"),
        )

    bound = F.element_at(
        F.transform(F.array(F.struct(ls.alias("ls"), ws.alias("ws"))), metrics), 1
    )
    out = df.select("doc_id", bound.alias("__m")).select(
        "doc_id",
        F.col("__m.lm.n_lines").alias("n_lines"),
        F.col("__m.lm.n_dup_lines").alias("n_dup_lines"),
        F.col("__m.lm.dup_line_chars").alias("dup_line_chars"),
        F.col("__m.lm.total_line_chars").alias("total_line_chars"),
        F.col("__m.top_bigram_chars").alias("top_bigram_chars"),
        F.col("__m.total_word_chars").alias("total_word_chars"),
    )
    # Gopher thresholds (dup-line frac > 0.30, dup-line-char frac > 0.20,
    # top-bigram-char frac > 0.20) in tie-unflippable integer arithmetic
    return out.withColumn(
        "gopher_flagged",
        (10 * F.col("n_dup_lines") > 3 * F.col("n_lines"))
        | (5 * F.col("dup_line_chars") > F.col("total_line_chars"))
        | (5 * F.col("top_bigram_chars") > F.col("total_word_chars")),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic content fingerprint of normalized text (md5) — the
    generalization of the reference's ``data_hash`` content hashing
    (``notebooks/demo-notebook.py:168``) to documents."""
    return df.select(
        "doc_id", F.md5(normalize_text(F.col(text_col))).alias("fingerprint")
    )


def shingles(col: Column, k: int = 3) -> Column:
    """Word k-shingles of normalized text as a distinct array — the unit for
    MinHash / Jaccard near-dup detection. Stays JVM-side.

    The token array is let-bound via a single-element ``transform`` before
    the per-shingle lambda runs: a lambda that referenced the raw
    ``ws_tokens`` expression would re-evaluate the normalization regexes once
    PER SHINGLE per row (measured ~30x slowdown at sf0.1).
    """
    def build(t: Column) -> Column:
        n = F.size(t)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        return F.when(n < k, F.array(F.concat_ws(" ", t))).otherwise(
            F.array_distinct(
                F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i + 1, k)))
            )
        )

    return F.element_at(F.transform(F.array(ws_tokens(col)), build), 1)


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Sliding-window token chunking for training-sequence preparation.

    Splits each document into overlapping ``window``-token chunks advancing
    by ``stride`` tokens (overlap = window - stride), the standard prep step
    before packing fixed-length training sequences. Documents shorter than
    one window yield exactly one (possibly short) chunk, so no text is ever
    dropped; the last chunk of a long document is allowed to run short
    rather than re-reading the tail twice.

    Output: (id, chunk_idx, chunk_text, n_chunk_tokens), one row per chunk.

    Scale shape: a narrow per-row projection + ``explode`` — zero shuffles.
    The token array is materialized once per row and each chunk is an
    ``F.slice`` of it, so the cost is O(n_tokens * window/stride) per
    document regardless of corpus size; output rows inherit the input
    partitioning. Complements :func:`...sampling.pack_sequences`
    (chunk first, then pack chunks to the model context length).
    Reference has no equivalent; LLM-pipeline extension contract
    (BASELINE.json).
    """
    if not (0 < stride <= window):
        raise ValueError("require 0 < stride <= window")
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != "")
    n = F.size(toks)
    # ceil((n - window) / stride) + 1 for n > window, else 1 chunk.
    n_chunks = (
        F.when(n <= window, F.lit(1).cast("long"))
        .otherwise(
            F.floor((n - F.lit(window) + F.lit(stride) - 1) / F.lit(stride)).cast(
                "long"
            )
            + 1
        )
    )
    base = df.select(
        F.col(id_col), toks.alias("__toks"), n.alias("__n"), n_chunks.alias("__nc")
    )
    idx = F.explode(F.sequence(F.lit(0).cast("long"), F.col("__nc") - 1)).alias(
        "chunk_idx"
    )
    exploded = base.select(id_col, idx, "__toks", "__n")
    start = F.col("chunk_idx") * stride
    return exploded.select(
        id_col,
        "chunk_idx",
        F.array_join(
            F.slice(F.col("__toks"), (start + 1).cast("int"), F.lit(window)), " "
        ).alias("chunk_text"),
        F.least(F.lit(window).cast("long"), F.col("__n") - start).alias(
            "n_chunk_tokens"
        ),
    )


def tfidf_topk(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Per-document top-k TF-IDF terms — the classic keyword/distinctiveness
    signal used for corpus exploration and quality auditing.

    tf = raw term count within the document; idf = ln((N+1)/(df+1)) + 1
    (smoothed, sklearn-style) where df counts documents containing the term.
    Scores are rounded to 6 decimals BEFORE ranking so the (score desc,
    term asc) tiebreak is deterministic cross-engine.

    Scale shape: explode -> two hash aggregations (doc_id+term, then term)
    -> a shuffle join on term (one row per distinct term on the build side;
    left to AQE rather than force-broadcast because a web-scale vocabulary
    can exceed broadcast limits) -> per-document top-k window. All keys
    hash uniformly; the corpus-size scalar N joins in as a broadcast 1-row
    crossJoin, not a driver-side collect. Reference has no equivalent;
    LLM-pipeline extension contract (BASELINE.json).
    """
    from pyspark.sql import Window

    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != "")
    words = df.select(F.col(id_col), F.explode(toks).alias("term"))
    tf = words.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    ndocs = df.agg(F.count("*").alias("__N"))
    scored = tf.join(dfreq, "term").crossJoin(F.broadcast(ndocs))
    tfidf = F.round(
        F.col("tf")
        * (F.log((F.col("__N") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + 1),
        6,
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("tfidf", tfidf)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", "rank")
    )


def unigram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unigram-LM cross-entropy scoring — the CCNet-style quality signal
    (documents whose token distribution diverges from the corpus LM score
    high and get filtered/bucketed before training).

    The LM is fit on the corpus itself: add-1-smoothed unigram
    probabilities p(t) = (count(t) + 1) / (T + V) over total token count T
    and vocabulary size V. Each document scores avg(-ln p(t)) over its
    tokens (cross-entropy; perplexity = exp of it). Scores are rounded to
    6 decimals for engine-independent comparison.

    Scale shape: one explode, one uniform (term) hash aggregation for the
    LM, a term-keyed AQE join back to the token stream, a broadcast 1-row
    (T, V) crossJoin, and a per-doc aggregation. Identical shuffle
    discipline to tfidf_topk; no driver-side state — the "model" is a
    DataFrame. At 100 TB, fit the LM on a hash-sample and broadcast it if
    the vocabulary fits; the corpus-side scan is unchanged either way.
    """
    from pyspark.sql import Window  # noqa: F401  (parity with tfidf_topk imports)

    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != "")
    words = df.select(F.col(id_col), F.explode(toks).alias("term"))
    # checkpointed O(vocab) model table (owned by the returned frame, see
    # dedup.minhash_lsh_pairs); (T, V) fold off it instead of re-exploding
    # the corpus (T = sum of term counts, V = vocab rows — identical
    # values, one corpus pass fewer)
    counts = (
        words.groupBy("term").agg(F.count("*").alias("c"))
    ).localCheckpoint(eager=False)
    totals = counts.agg(
        F.sum("c").cast("double").alias("__T"),
        F.count("*").cast("double").alias("__V"),
    )
    scored = (
        words.join(counts, "term")
        .crossJoin(F.broadcast(totals))
        .select(
            id_col,
            (-F.log((F.col("c") + F.lit(1.0)) / (F.col("__T") + F.col("__V")))).alias(
                "__lp"
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.round(F.avg("__lp"), 6).alias("cross_entropy"),
        F.round(F.exp(F.avg("__lp")), 2).alias("perplexity"),
    )


# --------------------------------------------------------------------------
# Distributed Bloom filter over a key column — the decontamination scale
# path when the benchmark shingle set outgrows the broadcast threshold.
# --------------------------------------------------------------------------

BLOOM_DECON_SEEDS = (0xB100F1, 0xB100F2, 0xB100F3)


def bloom_bitmap(
    keys: DataFrame,
    col: str,
    m_bits: int = 1 << 17,
    seeds: tuple[int, ...] = BLOOM_DECON_SEEDS,
) -> DataFrame:
    """Aggregate a key column into a single-row Bloom bitmap DataFrame.

    Entirely JVM-side: each key explodes into ``len(seeds)`` bit positions
    (``pmod(xxhash64(key, seed), m_bits)``), positions group-by their
    64-bit word index with a ``bit_or`` combine (map-side partial — the
    shuffle carries at most ``m_bits/64`` rows per partition), and one
    final row assembles the dense ``array<bigint>`` bitmap by sorting the
    collected (word, bits) structs — O(n log n); an earlier map-keyed fill
    was O(n^2) because Spark map lookups scan linearly.  Gap words are
    guaranteed present by unioning an all-zero word range before the
    combine.  The result is metadata-scale (m_bits/8 bytes) no matter how
    many keys went in, so it broadcasts even when the key set never could.
    """
    n_words = m_bits // 64
    pos = F.explode(
        F.array(
            *[
                F.pmod(F.xxhash64(F.col(col), F.lit(s)), F.lit(m_bits))
                for s in seeds
            ]
        )
    ).alias("__p")
    words = keys.select(pos).select(
        (F.col("__p") / 64).cast("long").alias("__w"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(__p, 64) AS INT))").alias(
            "__m"
        ),
    )
    zeros = keys.sparkSession.range(n_words).select(
        F.col("id").alias("__w"), F.lit(0).cast("long").alias("__m")
    )
    return (
        words.unionByName(zeros)
        .groupBy("__w")
        .agg(F.expr("bit_or(__m)").alias("__b"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__w", "__b"))),
                lambda x: x["__b"],
            ).alias("bf")
        )
    )


def bloom_probe(
    col: str,
    bf_col: str = "bf",
    m_bits: int = 1 << 17,
    seeds: tuple[int, ...] = BLOOM_DECON_SEEDS,
) -> Column:
    """Membership-test predicate against a :func:`bloom_bitmap` array.

    Pure column expression — per row, ``len(seeds)`` hash evaluations and
    O(1) array lookups (``element_at`` on ``array<bigint>``, never a map
    scan). False positives possible (callers exact-verify survivors),
    false negatives impossible.
    """
    tests = []
    for s in seeds:
        p = f"pmod(xxhash64({col}, {s}), {m_bits})"
        tests.append(
            f"((shiftright(element_at({bf_col}, CAST({p} div 64 AS INT) + 1),"
            f" CAST(pmod({p}, 64) AS INT))) & 1) = 1"
        )
    return F.expr(" AND ".join(tests))


def _term_count(toks: Column, term: str) -> Column:
    """Occurrences of ``term`` in a token array. A one-argument lambda on
    purpose: ``F.filter`` hands a two-argument lambda the element index."""
    return F.size(F.filter(toks, lambda x: x == F.lit(term)))


def _bm25_frames(
    df: DataFrame, terms: list[str], text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """The two lazy frames :func:`bm25_topk` runs on: ``docs`` holds one
    narrow row per document — ``(id, __dl, __tf0 .. __tf{|Q|-1})`` — and
    ``stats`` folds it to the corpus scalars ``(N, toks, df0 ..)``. Only
    documents with at least one token count towards N and the token total,
    as in the exploded formulation they replace. The token array is built
    once per document and counted per term inside the array, so nothing
    is exploded and nothing shuffles on the document key."""
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != "")
    docs = df.select(F.col(id_col), toks.alias("__toks")).select(
        F.col(id_col),
        F.size("__toks").alias("__dl"),
        *[
            _term_count(F.col("__toks"), t).alias(f"__tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    has_toks = F.col("__dl") > 0
    stats = docs.agg(
        F.count(F.when(has_toks, 1)).alias("N"),
        F.sum(F.when(has_toks, F.col("__dl"))).alias("toks"),
        *[
            F.count(F.when(F.col(f"__tf{i}") > 0, 1)).alias(f"df{i}")
            for i in range(len(terms))
        ],
    )
    return docs, stats


def _bm25_topk_frame(
    docs: DataFrame,
    n_docs: int,
    n_toks: int,
    dfreq: list[int],
    id_col: str,
    k: int,
    k1: float,
    b: float,
) -> DataFrame:
    """Lazy top-k ``(id, score_micro)`` over ``docs`` given the corpus
    scalars as literals: a narrow score projection and an
    ``orderBy().limit(k)`` = TakeOrderedAndProject (each task keeps a
    local k-heap, the driver merges the partition heads)."""
    n = F.lit(n_docs).cast("long")
    avgdl = F.lit(n_toks).cast("long") / n
    micro, hit = [], []
    for i, d in enumerate(dfreq):
        if d == 0:
            continue  # a term no document holds adds nothing to any score
        tf = F.col(f"__tf{i}")
        df_t = F.lit(d).cast("long")
        idf = F.log(F.lit(1.0) + (n - df_t + F.lit(0.5)) / (df_t + F.lit(0.5)))
        norm = F.lit(1.0 - b) + F.lit(b) * F.col("__dl") / avgdl
        contrib = idf * (tf * F.lit(k1 + 1.0)) / (tf + F.lit(k1) * norm)
        micro.append(
            F.when(tf > 0, F.round(contrib * F.lit(1e6)).cast("long")).otherwise(0)
        )
        hit.append(tf > 0)
    return (
        docs.where(reduce(operator.or_, hit) & F.col(id_col).isNotNull())
        .select(F.col(id_col), reduce(operator.add, micro).alias("score_micro"))
        .orderBy(F.col("score_micro").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _ranked_relation(spark, rows: list, id_col: str, id_type) -> DataFrame:
    """``(id, score_micro)`` rows, already in rank order, as a JVM-local
    relation ``(id, score_micro, rank)``: a VALUES list whose ids and
    scores enter as bound parameters, never as SQL text. Reading it runs
    no Spark job (``createDataFrame`` on a Python list is RDD-backed and
    would). No rows gives the same three typed columns, empty."""
    args = {}
    for j, (i, s) in enumerate(rows):
        args[f"i{j}"], args[f"s{j}"] = i, s
    values = ", ".join(f"(:i{j}, :s{j}, {j + 1})" for j in range(len(rows)))
    out = spark.sql(
        f"SELECT * FROM VALUES {values}" if rows
        else "SELECT * FROM VALUES (NULL, NULL, NULL) LIMIT 0",
        args=args,
    )
    return out.select(
        F.col("col1").cast(id_type).alias(id_col),
        F.col("col2").cast("long").alias("score_micro"),
        F.col("col3").cast("int").alias("rank"),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents by BM25 relevance to a fixed query-term set — the
    classic lexical retrieval scorer, used in data curation to pull
    topic-related subsets out of a corpus (the retrieval sibling of
    :func:`tfidf_topk`'s distinctiveness signal).

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)); per-term contribution
    idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)). Each contribution is
    fixed to BIGINT micro-units (round(x * 1e6)) BEFORE the per-document
    sum, so the sum is exact integer arithmetic — invariant to summation
    order across partitions and engines (a double sum is not), which is
    what makes the score exactly oracle-checkable. Repeated query terms
    count once; documents with a NULL id are never ranked.

    Scale shape: one pass over the text builds O(docs) narrow rows
    ``(id, dl, tf per distinct query term)`` — counted inside each
    document's token array, no explode — persisted for two actions: one
    global aggregate returns the |Q|+2 corpus scalars (N, token total,
    df per term), then a narrow score projection that takes them as
    literals feeds a TakeOrderedAndProject, so only k rows reach the
    driver. No join, no window and no exchange keyed on documents; on a
    micro corpus (the ``maintenance_plan_scope`` gate) that is two Spark
    jobs. The search is eager: the ranked rows come back as a local
    relation, and nothing stays persisted.
    """
    from incremental_etl_on_lakehouse_spark.lake.table import (
        maintenance_plan_scope,
        persist_scope,
    )

    spark = df.sparkSession
    terms = list(dict.fromkeys(query_terms))
    docs, stats = _bm25_frames(df, terms, text_col, id_col)
    id_type = docs.schema[0].dataType
    top: list = []
    if terms:
        with maintenance_plan_scope(spark, df), persist_scope() as persist:
            persist(docs)
            s = stats.collect()[0]
            dfreq = [s[f"df{i}"] for i in range(len(terms))]
            if any(dfreq):
                top = _bm25_topk_frame(
                    docs, s["N"], s["toks"], dfreq, id_col, k, k1, b
                ).collect()
    return _ranked_relation(spark, top, id_col, id_type)


def quality_buckets_by_threshold(
    scored: DataFrame,
    score_col: str = "cross_entropy",
    bucket_col: str = "ppl_bucket",
    n_buckets: int = 3,
) -> DataFrame:
    """Threshold-based quality bucketing — the 100 TB path for CCNet-style
    head/middle/tail splits. An exact global ``ntile`` funnels every
    (score, id) pair through ONE reducer's sort; this instead derives the
    bucket boundary scores from a DISTINCT-SCORE histogram and broadcasts
    them back:

    1. ``groupBy(score)`` count — scores are pre-rounded (6 decimals), so
       the histogram is O(distinct scores), orders of magnitude below
       O(docs) and bounded by the score range x 1e6 regardless of corpus
       size;
    2. one cumulative-count window over the HISTOGRAM (the only global
       window, sized by distinct scores, never by docs);
    3. threshold i = the smallest score whose cumulative count reaches
       ``ceil(i * n / n_buckets)`` — an exact, engine-replayable rank rule
       (no sketch, so the result is deterministic and oracle-checkable,
       unlike ``approx_percentile``);
    4. bucket assignment = a broadcast 1-row crossJoin + a codegen CASE
       over the corpus scan — no shuffle of doc-level rows at all.

    Ties at a boundary fold into the lower bucket, so buckets are
    near-equal rather than exactly-equal sized — the semantics of
    threshold bucketing itself (CCNet publishes perplexity CUTOFFS, not
    per-document ranks).
    """
    from pyspark.sql import Window

    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if n_buckets == 1:
        return scored.select(
            *scored.columns, F.lit(1).cast("int").alias(bucket_col)
        )
    # checkpointed (owned by the returned frame, see
    # dedup.minhash_lsh_pairs; the caller's ``scored`` plan stays uncached):
    # ``scored`` feeds the histogram AND the final assignment, and the
    # histogram feeds the cumulative window AND the total count — without
    # them the whole upstream scoring pipeline re-ran up to 3x (measured 18
    # parquet scans on the bucket-scale key). scored is O(docs) narrow
    # rows, hist O(distinct rounded scores).
    scored = scored.localCheckpoint(eager=False)
    hist = (
        scored.groupBy(score_col).agg(F.count("*").alias("__c"))
    ).localCheckpoint(eager=False)
    w = Window.orderBy(score_col).rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(score_col, F.sum("__c").over(w).alias("__cum"))
    totals = hist.agg(F.sum("__c").alias("__n"))
    th = cum.crossJoin(F.broadcast(totals)).agg(
        *[
            F.min(
                F.when(
                    F.col("__cum")
                    >= F.ceil(F.col("__n") * F.lit(i) / F.lit(float(n_buckets))),
                    F.col(score_col),
                )
            ).alias(f"__t{i}")
            for i in range(1, n_buckets)
        ]
    )
    case = None
    for i in range(1, n_buckets):
        cond = F.col(score_col) <= F.col(f"__t{i}")
        case = F.when(cond, i) if case is None else case.when(cond, i)
    case = case.otherwise(n_buckets).cast("int")
    return scored.crossJoin(F.broadcast(th)).select(
        *scored.columns, case.alias(bucket_col)
    )


def corpus_report(
    df: DataFrame, text_col: str = "text", lang_col: str = "lang"
) -> DataFrame:
    """Per-language corpus report card — the first query every curation
    pipeline runs against a new crawl: document counts, token volume, the
    token-length median, and the exact-duplicate count.

    Every output is integer-exact (counts, sums, and a RANK-based lower
    median — the element at position ceil(n/2) — instead of an
    interpolated percentile), so the report is bit-identical across
    engines and partitionings.

    Scale shape: one narrow projection computes tokens + fingerprint per
    doc, then two uniform-key hash aggregations (per-(lang, fingerprint)
    for dups folded into per-lang) and a per-lang rank window over doc
    counts for the median. No joins against data-scale frames: the median
    join's build side is one row per language.
    """
    from pyspark.sql import Window

    t = F.col(text_col)
    # reuse the module's one whitespace token counter; NULL text counts as
    # 0 tokens and fingerprints to a sentinel — NULL-valued sort keys
    # would otherwise order differently across engines (Spark sorts NULLS
    # FIRST in windows, DuckDB row_number sorts them LAST), silently
    # moving the median
    toks = F.when(t.isNull(), F.lit(0)).otherwise(token_count_ws(t)).cast("long")
    per_doc = df.select(
        F.col(lang_col).alias("lang"),
        toks.alias("n_tokens"),
        F.coalesce(F.md5(normalize_text(t)), F.lit("__null__")).alias("fp"),
    )
    base = per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.count("*") - F.count_distinct("fp")).alias("n_exact_dups"),
    )
    w = Window.partitionBy("lang").orderBy("n_tokens", "fp")
    ranked = per_doc.withColumn("rn", F.row_number().over(w))
    # lower median: rn == ceil(n/2) == (n+1) div 2, in exact integer math;
    # the (fp) tiebreak makes the rank order total, though any element at
    # that rank shares the same n_tokens value
    med = (
        ranked.join(F.broadcast(base.select("lang", "n_docs")), "lang")
        .where(F.col("rn") == F.floor((F.col("n_docs") + 1) / 2))
        .select("lang", F.col("n_tokens").alias("median_tokens"))
    )
    return base.join(med, "lang").select(
        "lang", "n_docs", "total_tokens", "median_tokens", "n_exact_dups"
    )


def _bpe_run(words: DataFrame, steps: int):
    """Shared BPE merge loop: returns (merges, final_state) where merges
    is the learned rule list and final_state the encoded (wid, freq, pos,
    sym) symbol table, materialized as a local checkpoint the returned
    frame owns (nothing stays persisted). One implementation so training and
    encoding can never diverge on the merge semantics (canonical
    left-to-right application; see bpe_train for the scale notes)."""
    from pyspark.sql import Window

    from incremental_etl_on_lakehouse_spark.lake.table import (
        maintenance_plan_scope,
    )

    spark = words.sparkSession
    # micro scope for the whole merge loop: each round's 1-row argmax
    # collect and per-round persist otherwise pay AQE query-stage jobs and
    # multi-task micro shuffles (the pair agg is O(pair domain) rows); a
    # 100 TB-scale vocabulary fails the byte gate and keeps AQE. The
    # explicit wid repartition below is conf-independent either way.
    with maintenance_plan_scope(spark, words):
        return _bpe_run_impl(spark, words, steps)


def _bpe_run_impl(spark, words: DataFrame, steps: int):
    from pyspark.sql import Window

    st = words.select(
        F.col("w").alias("wid"),
        "freq",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.length("w")),
                lambda i: F.col("w").substr(i, F.lit(1)),
            )
        ).alias("p0", "sym"),
    ).select("wid", "freq", (F.col("p0") + 1).cast("long").alias("pos"), "sym")
    # ONE wid hash-exchange up front; every window below declares the same
    # clustering, and filter/project preserve it, so all rounds run with
    # ZERO additional window shuffles — only the tiny per-round pair agg
    # exchanges. persist() (not localCheckpoint) keeps the partitioning
    # metadata across rounds; at 100 TB use MEMORY_AND_DISK + a real
    # checkpoint every few rounds to bound lineage.
    par = max(spark.sparkContext.defaultParallelism, 8)
    st = st.repartition(par, "wid").persist()

    wwin = Window.partitionBy("wid").orderBy("pos")
    swin = Window.partitionBy("wid").orderBy("seq")
    merges: list[tuple[int, str, str, int]] = []
    retired: list[DataFrame] = []
    for step in range(1, steps + 1):
        s = st.withColumn("seq", F.row_number().over(wwin)).withColumn(
            "nxt", F.lead("sym").over(wwin)
        )
        top = (
            s.where(F.col("nxt").isNotNull())
            .groupBy("sym", "nxt")
            .agg(F.sum("freq").cast("long").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "sym", "nxt")
            .limit(1)
            .collect()  # exactly ONE row per round — the argmax merge
        )
        # the collect materialized this round's persisted input; the
        # previous round's cache is no longer referenced
        while retired:
            retired.pop().unpersist(blocking=False)
        if not top:
            break  # merges exhausted: keep the last symbol table
        left, right, cnt = top[0]["sym"], top[0]["nxt"], int(top[0]["cnt"])
        merges.append((step, left, right, cnt))
        cand = s.withColumn(
            "cand",
            (F.col("sym") == F.lit(left)) & (F.col("nxt") == F.lit(right)),
        )
        # island offset without a second partition spec: running max of
        # the last non-candidate seq (same wid window) gives each cand
        # row's distance into its chain of adjacent candidates
        run = swin.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        last_nc = F.coalesce(
            F.max(F.when(~F.col("cand"), F.col("seq"))).over(run), F.lit(0)
        )
        m = cand.withColumn(
            "mstart",
            F.col("cand") & (((F.col("seq") - last_nc - 1) % 2) == 0),
        )
        g = m.withColumn("pm", F.lag("mstart").over(swin))
        retired.append(st)
        st = (
            g.where(F.col("mstart") | ~F.coalesce(F.col("pm"), F.lit(False)))
            .select(
                "wid",
                "freq",
                "pos",
                F.when(F.col("mstart"), F.lit(left + right))
                .otherwise(F.col("sym"))
                .alias("sym"),
            )
            .persist()
        )
    # The final st has been persisted but never materialized (only the
    # NEXT round's collect would have done that); releasing its retired
    # parent first would make the caller's terminal action recompute the
    # whole multi-round window chain from scratch. Materialize it as a
    # local checkpoint while its parent's cache is still alive — one
    # O(vocab) job — THEN release every persisted round, the last too.
    final = st.localCheckpoint()
    for df_ in [*retired, st]:
        df_.unpersist(blocking=False)
    return merges, final


def bpe_train(words: DataFrame, steps: int) -> list[tuple[int, str, str, int]]:
    """Train ``steps`` BPE merges (Sennrich et al. 2016) over a word-
    frequency table ``words(w: string, freq: long)`` and return the merge
    rules as ``(step, left_sym, right_sym, pair_count)`` tuples.

    The distributed word-level formulation: the corpus is assumed already
    folded to distinct words (O(vocab) rows — millions at 100 TB, never
    the corpus), symbols live as an exploded (wid, pos, sym) table hash-
    partitioned by wid ONCE, and each round is a shuffle-free window pass
    (every window declares the same wid clustering, filter/project
    preserve it) plus one tiny pair-domain agg and a 1-row TakeOrdered
    argmax — the only driver collect per round. The merge applies
    canonically left-to-right: chain-adjacent candidate islands (possible
    only when left = right) merge at even offsets, resolved with a
    running max of the last non-candidate seq rather than a second
    (wid, island)-keyed shuffle."""
    merges, _ = _bpe_run(words, steps)
    return merges


def bpe_encode(words: DataFrame, steps: int) -> DataFrame:
    """Train ``steps`` merges over the word-frequency table (see
    :func:`bpe_train`) and return the ENCODED vocabulary: per final
    subword token, how many distinct words contain it and the total
    corpus occurrences (``token, n_words, total_count``) — the tokenizer
    APPLICATION step a training-data pipeline runs after training. The
    per-word token sequence is the final symbol table itself; callers
    needing it can join back on ``wid``. If merges exhaust before
    ``steps``, the last symbol table is encoded (the oracle chain carries
    it forward the same way).

    Scale: identical to the training loop (the encode IS the trained
    loop's final state — no second pass), then one tiny agg over the
    O(vocab) symbol table."""
    _, st = _bpe_run(words, steps)
    return st.groupBy(F.col("sym").alias("token")).agg(
        F.countDistinct("wid").cast("long").alias("n_words"),
        F.sum("freq").cast("long").alias("total_count"),
    )
