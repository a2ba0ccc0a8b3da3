"""SURVEY §2.12 EXT operators (LLM-pipeline hygiene + similarity).

Split from the original single-module ``queries.py`` (round-5 refactor);
shares the registry, helpers, and imports of ``._core`` — registration
order (and therefore ``ordered_keys()``) is fixed by the import order in
``__init__``.
"""

from __future__ import annotations

from incremental_etl_on_lakehouse_spark.queries._core import *  # noqa: F401,F403

# ---------------------------------------------------------------------------
# §2.12 EXT operators
# ---------------------------------------------------------------------------


@query(
    "ext_dedup_exact",
    "SELECT doc_id, lang, source FROM ("
    " SELECT doc_id, lang, source, row_number() OVER ("
    "   PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM documents)"
    " WHERE rn = 1",
)
def ext_dedup_exact(spark, sf_dir):
    """Exact dedup by content hash, min-id representative."""
    docs = load_table(spark, "documents", sf_dir)
    return D.dedup_exact(docs, ["text"], id_col="doc_id").select(
        "doc_id", "lang", "source"
    )


@query("ext_dedup_fuzzy")  # MinHash LSH: xxhash64 not expressible in DuckDB
def ext_dedup_fuzzy(spark, sf_dir):
    """Near-dup candidate pairs via MinHash+LSH banding (rows-only check)."""
    docs = load_table(spark, "documents", sf_dir)
    return D.minhash_lsh_pairs(docs, jaccard_threshold=0.5)


@query("ext_dedup_simhash")  # bit-level xxhash64 signatures: no SQL oracle
def ext_dedup_simhash(spark, sf_dir):
    """Near-dup pairs by SimHash Hamming blocking (rows-only check)."""
    docs = load_table(spark, "documents", sf_dir)
    return D.simhash_pairs(docs, max_hamming=10)


_FUZZY_PLANTED_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)


@query(
    "ext_dedup_simhash_planted",
    f"WITH base AS (SELECT doc_id, {_FUZZY_PLANTED_NORM} AS n FROM documents),"
    " corpus AS (SELECT doc_id, n FROM base"
    "  UNION ALL SELECT doc_id + 1000000, n FROM base WHERE doc_id % 20 = 0)"
    " SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INT) AS hamming"
    " FROM corpus a JOIN corpus b ON a.doc_id < b.doc_id AND a.n = b.n",
)
def ext_dedup_simhash_planted(spark, sf_dir):
    """SimHash near-dup with PLANTED duplicates and a full oracle (the
    same technique as ext_dedup_fuzzy_planted): every 20th document is
    re-inserted verbatim under doc_id+1000000. Identical normalized text
    gives an identical token sequence, hence an identical 64-bit SimHash —
    Hamming distance exactly 0 — so the planted pair collides in every
    16-bit pigeonhole block and always survives ``max_hamming=0``.

    SimHash equality alone is not text equality (64-bit fingerprints can
    collide across distinct documents), so candidates get an exact rescore:
    normalized-text equality, which is precisely what the oracle replays in
    SQL. Recall is exact at Hamming 0 — equal normalized text implies equal
    signature implies a shared block — so the result set is deterministic:
    all pairs of normalized-text-equal documents in the planted corpus.
    Exercises the full production path (explode tokens, 64 bit-count
    aggregates, block bucketing, XOR verify) end-to-end."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    planted = docs.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    corpus = docs.unionAll(planted)
    pairs = D.simhash_pairs(corpus, max_hamming=0)
    norm = corpus.select("doc_id", T.normalize_text(F.col("text")).alias("n"))
    return (
        pairs.join(
            norm.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a")),
            "id_a",
        )
        .join(
            norm.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b")),
            "id_b",
        )
        .where(F.col("n_a") == F.col("n_b"))
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
    )


@query(
    "ext_dedup_fuzzy_planted",
    f"WITH base AS (SELECT doc_id, {_FUZZY_PLANTED_NORM} AS n FROM documents),"
    " corpus AS (SELECT doc_id, n FROM base"
    "  UNION ALL SELECT doc_id + 1000000, n FROM base WHERE doc_id % 20 = 0),"
    " toks AS (SELECT doc_id, regexp_split_to_array(n, ' ') AS t FROM corpus),"
    " s AS (SELECT doc_id, list_sort(list_distinct(list_transform("
    "   generate_series(1, greatest(len(t) - 2, 1)),"
    "   i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS sig FROM toks)"
    " SELECT a.doc_id AS id_a, b.doc_id AS id_b,"
    "  CAST(1.0 AS DOUBLE) AS jaccard_sim"
    " FROM s a JOIN s b ON a.doc_id < b.doc_id AND a.sig = b.sig",
)
def ext_dedup_fuzzy_planted(spark, sf_dir):
    """MinHash+LSH fuzzy dedup with PLANTED duplicates and a full oracle:
    every 20th document is re-inserted verbatim under doc_id+1000000.
    Identical text gives an identical 64-component MinHash signature, which
    collides in every LSH band, so a threshold of estimated-Jaccard 1.0
    restricts the output to exactly the equal-shingle-set pairs — a set the
    oracle recomputes directly (normalize -> word 3-shingles -> sorted
    distinct set equality join). This closes round 1's rows-only gap for the
    MinHash family: the production banding path is exercised end-to-end and
    every emitted pair is hash-verified against DuckDB.

    An estimated-Jaccard filter alone saturates (all 64 minhash components
    can coincide for true J < 1 — observed on ~8 natural near-dup pairs per
    500 docs), so the candidates get the standard exact rescore: set
    equality on the shingle arrays. Candidate volume is LSH-bounded, so the
    rescore joins touch O(pairs), not O(corpus²)."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    planted = docs.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    corpus = docs.unionAll(planted)
    pairs = D.minhash_lsh_pairs(corpus, jaccard_threshold=1.0)
    sh = corpus.select("doc_id", T.shingles(F.col("text"), 3).alias("sh"))
    return (
        pairs.join(
            sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
        .where(
            F.size(F.array_intersect("sh_a", "sh_b"))
            == F.size(F.array_union("sh_a", "sh_b"))
        )
        .select("id_a", "id_b", "jaccard_sim")
    )


_NORM = (
    "trim(regexp_replace(regexp_replace(lower({c}), '[^a-z0-9\\s]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)
_TOKS = f"regexp_split_to_array({_NORM.format(c='text')}, ' ')"
_SHINGLES3 = (
    f"list_distinct(list_transform(generate_series(1, greatest(len({_TOKS}) - 2, 1)),"
    f" i -> concat_ws(' ', {_TOKS}[i], {_TOKS}[i+1], {_TOKS}[i+2])))"
)


@query(
    "ext_dedup_ngram_jaccard",
    f"WITH sh AS (SELECT doc_id, {_SHINGLES3} AS sh FROM documents)"
    " SELECT a.doc_id AS id_a, b.doc_id AS id_b,"
    " round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /"
    " len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard"
    " FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1",
)
def ext_dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard for adjacent doc pairs (oracle-checkable slice of
    the n-gram machinery; the LSH-candidate variant is ext_dedup_fuzzy)."""
    docs = load_table(spark, "documents", sf_dir)
    sh = docs.select(
        "doc_id", T.shingles(F.col("text"), 3).alias("sh")
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    return a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.round(inter.cast("double") / union, 6).alias("jaccard"),
    )


_SHINGLES8 = (
    f"list_distinct(list_transform(generate_series(1, greatest(len({_TOKS}) - 7, 1)),"
    f" i -> concat_ws(' ', {_TOKS}[i], {_TOKS}[i+1], {_TOKS}[i+2], {_TOKS}[i+3],"
    f" {_TOKS}[i+4], {_TOKS}[i+5], {_TOKS}[i+6], {_TOKS}[i+7])))"
)

# PII patterns restricted to the Java-regex / RE2 common dialect (no
# lookaround, no backrefs) so Spark and DuckDB redact byte-identically.
_PII_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
_PII_PHONE = r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b"

_PII_PLANT_SQL = (
    "SELECT doc_id + 200000 AS doc_id,"
    " concat(text, ' contact ', 'user', CAST(doc_id AS VARCHAR),"
    " '@example.com or 555-', lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'),"
    " '-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),"
    " ' from 10.0.', CAST(doc_id % 256 AS VARCHAR), '.', "
    " CAST((doc_id * 7) % 256 AS VARCHAR)) AS text"
    " FROM documents WHERE doc_id % 40 = 3"
)


_BOILER = "subscribe to our newsletter today"


@query(
    "ext_line_dedup",
    "WITH corpus AS (SELECT doc_id, CASE WHEN doc_id % 25 = 1"
    f" THEN text || chr(10) || '{_BOILER}' ELSE text END AS text FROM documents),"
    " lin AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line,"
    "  unnest(generate_series(1, len(string_split(text, chr(10))))) AS pos"
    "  FROM corpus),"
    " cnt AS (SELECT line, count(DISTINCT doc_id) AS n_docs FROM lin GROUP BY line),"
    " kept AS (SELECT doc_id, pos, line FROM lin JOIN cnt USING (line)"
    "  WHERE n_docs = 1),"
    " agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,"
    "  md5(string_agg(line, chr(10) ORDER BY pos)) AS cleaned_md5"
    "  FROM kept GROUP BY doc_id)"
    " SELECT doc_id, CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,"
    " CAST(len(string_split(c.text, chr(10))) - COALESCE(n_kept, 0) AS BIGINT)"
    "  AS n_dropped,"
    " COALESCE(cleaned_md5, md5('')) AS cleaned_md5"
    " FROM corpus c LEFT JOIN agg USING (doc_id) ORDER BY doc_id",
)
def ext_line_dedup(spark, sf_dir):
    """C4-style cross-corpus line dedup (boilerplate removal): a line
    occurring in MORE THAN ONE document is boilerplate (nav text, cookie
    banners, license headers) and is stripped from every document; order
    of the surviving lines is preserved and the cleaned text's md5 is
    hash-checked, proving the reassembly byte-for-byte. The scenario
    plants a shared newsletter line on every 25th doc, so the dropped
    set is deterministic.

    Scale: one shuffle groups lines for the cross-corpus occurrence
    count, one joins the verdicts back, one regroups per doc for ordered
    reassembly — all on uniformly-distributed keys. The count+verdict
    shuffles key on ``xxhash64(line)``: the two wide exchanges carry
    8-byte BIGINTs instead of raw line text (the 100 TB shape —
    plan-guarded by test_plans.py), while the oracle's textual join
    produces identical results absent a 64-bit collision (p ~ n^2/2^65;
    a collision can only over-drop a uniquely-held line, never resurrect
    boilerplate). Reference has no equivalent; LLM-pipeline extension
    contract (BASELINE.json)."""
    docs = spread(load_table(spark, "documents", sf_dir)).select("doc_id", "text")
    corpus = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 25 == 1,
            F.concat(F.col("text"), F.lit("\n" + _BOILER)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    lines = corpus.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("pos", "line")
    ).withColumn("__lh", F.xxhash64("line"))
    # the verdict only needs "one doc vs many": min(doc_id) == max(doc_id)
    # is a plain aggregate planning as ONE shuffle on line-hash, where
    # countDistinct(doc_id) would expand to two (partial-distinct on
    # (line, doc_id) first) — measured in the executed plan
    counts = lines.groupBy("__lh").agg(
        (F.min("doc_id") == F.max("doc_id")).alias("unique_doc")
    )
    kept = (
        lines.join(counts, "__lh").where(F.col("unique_doc")).drop("__lh")
    )
    agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.concat_ws(
                "\n",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
            )
        ).alias("cleaned_md5"),
    )
    return (
        corpus.select(
            "doc_id", F.size(F.split("text", "\n")).alias("__n_lines")
        )
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            (F.col("__n_lines") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
            F.coalesce(F.col("cleaned_md5"), F.md5(F.lit(""))).alias(
                "cleaned_md5"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "ext_pii_redact",
    f"WITH corpus AS (SELECT doc_id, text FROM documents"
    f" UNION ALL {_PII_PLANT_SQL}),"
    " red AS (SELECT doc_id, text,"
    f" regexp_replace(regexp_replace(regexp_replace(text,"
    f" '{_PII_EMAIL}', '<EMAIL>', 'g'),"
    f" '{_PII_IPV4}', '<IP>', 'g'),"
    f" '{_PII_PHONE}', '<PHONE>', 'g') AS redacted FROM corpus)"
    " SELECT doc_id,"
    f" CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,"
    f" CAST(len(regexp_extract_all(text, '{_PII_IPV4}')) AS BIGINT) AS n_ips,"
    f" CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS n_phones,"
    " md5(redacted) AS redacted_md5"
    " FROM red WHERE text <> redacted ORDER BY doc_id",
)
def ext_pii_redact(spark, sf_dir):
    """PII redaction (training-data hygiene): replace emails, IPv4
    addresses, and phone numbers with typed placeholder tokens and count
    hits per document. The scenario plants documents carrying synthetic
    PII derived from doc_id (corpus text itself contains none), so the
    flagged set, the per-type counts, and the md5 of every redacted text
    are deterministic and hash-checked cross-engine — the md5 proves the
    REPLACEMENT matched byte-for-byte, not just the counts. Patterns use
    the Java-regex / RE2 common dialect (no lookaround) so both engines
    compile them identically.

    Scale: a pure narrow projection (regexp_replace/regexp_count stay in
    whole-stage codegen, no UDF, no shuffle except the final sort);
    redaction throughput is scan-bound, the ideal shape for a 100 TB
    pass. Reference has no equivalent; mandated by the LLM-pipeline
    extension contract (BASELINE.json north star)."""
    docs = spread(load_table(spark, "documents", sf_dir)).select("doc_id", "text")
    did = F.col("doc_id")
    planted = docs.where(did % 40 == 3).select(
        (did + 200000).alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            did.cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad((did % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."),
            (did % 256).cast("string"),
            F.lit("."),
            ((did * 7) % 256).cast("string"),
        ).alias("text"),
    )
    corpus = docs.unionByName(planted)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
            _PII_IPV4,
            "<IP>",
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    out = corpus.select(
        "doc_id",
        "text",
        redacted.alias("redacted"),
        F.regexp_count("text", F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count("text", F.lit(_PII_IPV4)).cast("long").alias("n_ips"),
        F.regexp_count("text", F.lit(_PII_PHONE)).cast("long").alias("n_phones"),
    )
    return (
        out.where(F.col("text") != F.col("redacted"))
        .select(
            "doc_id",
            "n_emails",
            "n_ips",
            "n_phones",
            F.md5("redacted").alias("redacted_md5"),
        )
        .orderBy("doc_id")
    )


@query(
    "ext_decontaminate",
    "WITH corpus AS (SELECT doc_id, text FROM documents"
    " UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 50 = 7),"
    f" bgrams AS (SELECT DISTINCT unnest({_SHINGLES8}) AS gram"
    "  FROM documents WHERE doc_id % 50 = 7),"
    f" cgrams AS (SELECT doc_id, unnest({_SHINGLES8}) AS gram FROM corpus)"
    " SELECT doc_id, CAST(count(DISTINCT gram) AS BIGINT) AS n_hit_shingles"
    " FROM cgrams JOIN bgrams USING (gram)"
    " GROUP BY doc_id ORDER BY doc_id",
)
def ext_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag corpus documents sharing any
    8-token shingle with a held-out benchmark set (the training-data
    hygiene step run before every model train). The scenario plants
    verbatim copies of the benchmark docs at doc_id+100000, so the
    expected hit set — every benchmark member (self-overlap) plus every
    planted copy, with identical shingle counts — is fully deterministic
    and hash-checked against the oracle.

    Scale: benchmark suites are KB-to-MB against a 100 TB corpus, exactly
    the asymmetry exploited here — the benchmark's distinct shingles
    broadcast; the corpus side is one narrow explode (no all-pairs, no
    corpus shuffle except the final per-doc count). Reference has no
    equivalent; mandated by the LLM-pipeline extension contract
    (BASELINE.json north star)."""
    docs = spread(load_table(spark, "documents", sf_dir)).select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 50 == 7)
    planted = bench.select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(planted)
    bgrams = (
        bench.select(F.explode(T.shingles(F.col("text"), 8)).alias("gram"))
        .distinct()
    )
    # shingles() emits a DISTINCT array per doc, so no dedup shuffle is
    # needed before counting: count == count-distinct here
    cgrams = corpus.select(
        "doc_id", F.explode(T.shingles(F.col("text"), 8)).alias("gram")
    )
    return (
        cgrams.join(F.broadcast(bgrams), "gram")
        .groupBy("doc_id")
        .agg(F.count("gram").alias("n_hit_shingles"))
        .orderBy("doc_id")
    )


@query(
    "ext_decontaminate_bloom",
    "WITH corpus AS (SELECT doc_id, text FROM documents"
    " UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 50 = 7),"
    f" bgrams AS (SELECT DISTINCT unnest({_SHINGLES8}) AS gram"
    "  FROM documents WHERE doc_id % 50 = 7),"
    f" cgrams AS (SELECT doc_id, unnest({_SHINGLES8}) AS gram FROM corpus)"
    " SELECT doc_id, CAST(count(DISTINCT gram) AS BIGINT) AS n_hit_shingles"
    " FROM cgrams JOIN bgrams USING (gram)"
    " GROUP BY doc_id ORDER BY doc_id",
)
def ext_decontaminate_bloom(spark, sf_dir):
    """Benchmark decontamination, Bloom-prefiltered — the 100 TB scale path
    for when the benchmark suite's distinct shingle set outgrows the
    broadcast-hash-join threshold (hundreds of eval sets -> billions of
    grams). Same planted scenario and byte-identical result contract as
    ext_decontaminate (the oracle is the same exact SQL), different plan:

    1. the benchmark grams aggregate into a 128 Kbit Bloom bitmap
       (operators/text.py: bloom_bitmap) — a single array<bigint> row of
       fixed 16 KB, metadata-scale REGARDLESS of gram count, built with one
       map-side-combined bit_or shuffle capped at 2048 rows/partition;
    2. the bitmap broadcasts (1-row BroadcastNestedLoopJoin) and every
       corpus shingle probes it with three xxhash64 + O(1) element_at bit
       tests, all inside whole-stage codegen (operators/text.py:
       bloom_probe) — the corpus scan stays narrow and prunes ~all clean
       grams before any join;
    3. only Bloom survivors exact-verify against the true gram set via a
       SHUFFLE hash join (hint pins it — the premise is that this side
       cannot broadcast), whose left side is now tiny, false positives
       dropping out here so the result stays exact.

    False negatives are impossible (every benchmark gram is in the
    filter), so Bloom+exact-verify == the plain exact join, which is what
    the shared oracle attests."""
    docs = spread(load_table(spark, "documents", sf_dir)).select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 50 == 7)
    planted = bench.select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(planted)
    # checkpointed (owned by the returned frame, see
    # dedup.minhash_lsh_pairs): the benchmark gram set feeds BOTH the bitmap
    # aggregation and the exact-verify join — without it the bench-side
    # shingle explode + distinct shuffle run twice. O(benchmark grams), the
    # side that by premise doesn't broadcast but caches fine distributed.
    bgrams = (
        bench.select(F.explode(T.shingles(F.col("text"), 8)).alias("gram"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    cgrams = corpus.select(
        "doc_id", F.explode(T.shingles(F.col("text"), 8)).alias("gram")
    )
    # 1 Mbit ≈ 20 bits/gram at sf0.1 (fp < 1e-3); still a 128 KB broadcast.
    # Sizing rule at scale: m ≈ 10·n keeps (1-e^{-3n/m})^3 under 1% — an
    # under-sized filter stays CORRECT (exact verify drops fps) but stops
    # pruning, which is a perf cliff, not a wrong answer.
    m_bits = 1 << 20
    candidates = cgrams.crossJoin(
        F.broadcast(T.bloom_bitmap(bgrams, "gram", m_bits=m_bits))
    ).where(T.bloom_probe("gram", m_bits=m_bits))
    return (
        candidates.join(bgrams.hint("shuffle_hash"), "gram")
        .groupBy("doc_id")
        .agg(F.count("gram").alias("n_hit_shingles"))
        .orderBy("doc_id")
    )


@query(
    "ext_dedup_embedding",
    "WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
    "  FROM embeddings),"
    " corpus AS (SELECT vec_id, v FROM base"
    "  UNION ALL SELECT vec_id + 100000, list_transform(v, x -> x * 2.0)"
    "  FROM base WHERE vec_id % 10 = 0)"
    " SELECT a.vec_id AS id_a, b.vec_id AS id_b,"
    "  round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim"
    " FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id"
    " WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.999",
)
def ext_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs via hyperplane LSH, verified against
    a corpus with PLANTED duplicates: every 10th vector is re-inserted under
    vec_id+100000 scaled by exactly 2.0. Power-of-two scaling is exact in
    IEEE floats, so each planted copy's hyperplane dot products are exactly
    2x the original's — identical sign buckets by construction — and its
    cosine to the source is exactly 1.0 on both engines. That makes the LSH
    output deterministic and fully SQL-replayable (the oracle is the exact
    all-pairs cosine filter), closing the round-1 gap where an empty
    rows-only result verified nothing. The natural corpus max pairwise
    cosine is ~0.51, far under the 0.999 threshold, so planted pairs are
    exactly the result set. Production path is unchanged: LSH bucket join +
    in-bucket exact cosine verify, never all-pairs."""
    embs = load_table(spark, "embeddings", sf_dir)
    base = embs.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    planted = base.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(2.0)).alias(
            "embedding"
        ),
    )
    return D.embedding_dup_pairs(
        base.unionAll(planted), cosine_threshold=0.999
    )


@query(
    "ext_sim_topk",
    "WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5)"
    " SELECT query_id, corpus_id, cosine_sim, rank FROM ("
    "  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,"
    "   round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS cosine_sim,"
    "   row_number() OVER (PARTITION BY q.vec_id ORDER BY"
    "    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) DESC, c.vec_id)"
    "   AS rank"
    "  FROM q CROSS JOIN embeddings c WHERE q.vec_id <> c.vec_id)"
    " WHERE rank <= 10",
)
def ext_sim_topk(spark, sf_dir):
    """Exact top-10 cosine neighbors for 5 query vectors (brute force)."""
    embs = load_table(spark, "embeddings", sf_dir)
    queries = embs.where("vec_id < 5")
    return SIM.topk_cosine_bruteforce(queries, embs, k=10)


@query("ext_sim_lsh")  # approximate; compared structurally only
def ext_sim_lsh(spark, sf_dir):
    """Approximate top-10 via multi-table hyperplane LSH (rows-only).

    (planes=4, tables=16) per the measured sweep in SCALE.md: on the
    near-random synthetic corpus (the hardest case) this lands at 0.88
    recall@10 for ~65% of brute-force candidate volume, vs 0.60 recall at
    the earlier 8-table setting — recall is bought with linear candidate
    cost, never a wider shuffle."""
    embs = load_table(spark, "embeddings", sf_dir)
    queries = embs.where("vec_id < 5")
    return SIM.topk_cosine_lsh(queries, embs, k=10, planes=4, num_tables=16)


def _planted_queries(embs):
    """×2-scaled copies of every 25th corpus vector. Power-of-two scaling is
    IEEE-exact, so each copy's hyperplane sign buckets, centroid assignment,
    and cosine-to-twin (exactly 1.0) are all deterministic — see
    ext_dedup_embedding."""
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double") * F.lit(2.0))
    return embs.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), dbl.alias("embedding")
    )


_PLANTED_TOP1_SQL = (
    "SELECT vec_id + 100000 AS query_id, vec_id AS corpus_id,"
    " CAST(1.0 AS DOUBLE) AS cosine_sim, CAST(1 AS INT) AS rank"
    " FROM embeddings WHERE vec_id % 25 = 0"
)


@query("ext_sim_lsh_planted", _PLANTED_TOP1_SQL)
def ext_sim_lsh_planted(spark, sf_dir):
    """Hyperplane-LSH ANN recall proof with a full oracle: for ×2-scaled
    planted queries the twin's sign bucket is provably identical in every
    table, so the twin is always a candidate and (max natural cosine ~0.51)
    always rank 1 with cosine exactly 1.0. The rank-1 slice is therefore
    deterministic and SQL-replayable even though deeper ranks depend on LSH
    recall. Exercises the full production path: multi-table bucketing,
    bucket join, exact rescore, two-phase ranking."""
    embs = load_table(spark, "embeddings", sf_dir)
    out = SIM.topk_cosine_lsh(
        _planted_queries(embs), embs, k=10, planes=4, num_tables=8
    )
    return out.where(F.col("rank") == 1).select(
        "query_id", "corpus_id", "cosine_sim", F.col("rank").cast("int").alias("rank")
    )


@query("ext_sim_ivf_planted", _PLANTED_TOP1_SQL)
def ext_sim_ivf_planted(spark, sf_dir):
    """IVF ANN recall proof with a full oracle: a ×2-scaled query's cosine
    to every centroid equals its twin's exactly, so it is assigned the
    twin's partition, the probe list covers it, and the twin rescores to
    rank 1 at cosine exactly 1.0 (same argument as ext_sim_lsh_planted)."""
    embs = load_table(spark, "embeddings", sf_dir)
    out = SIM.topk_cosine_ivf(
        _planted_queries(embs), embs, k=10, n_centroids=16, n_probe=4
    )
    return out.where(F.col("rank") == 1).select(
        "query_id", "corpus_id", "cosine_sim", F.col("rank").cast("int").alias("rank")
    )


@query(
    "ext_text_analysis",
    "SELECT doc_id,"
    " CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE"
    "  len(regexp_split_to_array(trim(text), '\\s+')) END AS INT) AS n_tokens_ws,"
    " CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT)"
    "  AS n_tokens_bpe,"
    " CAST(length(text) AS INT) AS n_chars"
    " FROM documents",
)
def ext_text_analysis(spark, sf_dir):
    """Token counting: whitespace + BPE-ish regex tokenizers."""
    docs = spread(load_table(spark, "documents", sf_dir))
    return T.token_stats(docs).select(
        "doc_id",
        F.col("n_tokens_ws").cast("int").alias("n_tokens_ws"),
        F.col("n_tokens_bpe").cast("int").alias("n_tokens_bpe"),
        F.col("n_chars").cast("int").alias("n_chars"),
    )


def _lang_score_sql(lang: str, tris: list[str]) -> str:
    parts = " + ".join(
        f"len(regexp_extract_all({_NORM.format(c='text')}, '{t}'))" for t in tris
    )
    return f"CAST({parts} AS INT) AS score_{lang}"


_LANG_SQL_SCORES = ", ".join(
    _lang_score_sql(lang, tris) for lang, tris in T.LANG_PROFILES.items()
)
_LANG_SQL_BEST = "greatest(" + ", ".join(
    f"score_{lang}" for lang in T.LANG_PROFILES
) + ")"
_LANG_SQL_ARGMAX = (
    "CASE "
    + " ".join(
        f"WHEN score_{lang} = {_LANG_SQL_BEST} THEN '{lang}'"
        for lang in T.LANG_PROFILES
    )
    + " END AS lang_guess"
)


@query(
    "ext_lang_id",
    f"SELECT doc_id, {', '.join('score_' + lang for lang in T.LANG_PROFILES)},"
    f" {_LANG_SQL_ARGMAX} FROM (SELECT doc_id, {_LANG_SQL_SCORES} FROM documents)",
)
def ext_lang_id(spark, sf_dir):
    """Language ID by character-trigram profile scores + argmax."""
    # single-file scans arrive as 1 partition; spread() so the regex-heavy
    # projection parallelizes (no-op on pre-split cluster data)
    docs = spread(load_table(spark, "documents", sf_dir))
    out = T.language_id(docs)
    return out.select(
        "doc_id",
        *[F.col(f"score_{lang}").cast("int").alias(f"score_{lang}") for lang in T.LANG_PROFILES],
        "lang_guess",
    )


@query(
    "ext_quality_score",
    f"""SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
 CAST(len(toks) AS INT) AS n_tokens,
 round(CASE WHEN length(nonspace) = 0 THEN 0.0
   ELSE CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / length(nonspace) END, 6) AS alpha_ratio,
 round(CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1), 6) AS distinct_token_ratio,
 CAST(len(list_filter(toks, t -> list_contains({T.STOPWORDS!r}, t))) AS INT) AS n_stopwords
 FROM (SELECT doc_id, text, {_TOKS} AS toks,
   regexp_replace(text, '\\s', '', 'g') AS nonspace FROM documents)""".replace(
        "'the', 'a', 'an'", "'the', 'a', 'an'"
    ).replace("[", "[").replace("!r]", "]"),
)
def ext_quality_score(spark, sf_dir):
    """Quality-filter signals (length/alpha/stopword/repetition)."""
    docs = spread(load_table(spark, "documents", sf_dir))
    return T.quality_score(docs).select(
        "doc_id",
        F.col("n_chars").cast("int").alias("n_chars"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "alpha_ratio",
        "distinct_token_ratio",
        F.col("n_stopwords").cast("int").alias("n_stopwords"),
    )


_REP_LINE = "Subscribe to our newsletter today!"

@query(
    "ext_repetition_filter",
    "WITH corpus AS (SELECT doc_id, CASE WHEN doc_id % 30 = 2"
    f" THEN text || repeat(chr(10) || '{_REP_LINE}', 3) ELSE text END AS text"
    " FROM documents),"
    " base AS (SELECT doc_id,"
    "  list_filter(string_split(text, chr(10)), x -> x <> '') AS ls,"
    "  list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws"
    "  FROM corpus),"
    " m AS (SELECT doc_id,"
    "  CAST(len(ls) AS BIGINT) AS n_lines,"
    "  CAST(len(ls) - len(list_distinct(ls)) AS BIGINT) AS n_dup_lines,"
    "  CAST(coalesce(list_sum(list_transform(list_distinct(ls),"
    "   d -> CASE WHEN len(list_filter(ls, x -> x = d)) > 1"
    "    THEN length(d) * len(list_filter(ls, x -> x = d)) ELSE 0 END)), 0)"
    "   AS BIGINT) AS dup_line_chars,"
    "  CAST(coalesce(list_sum(list_transform(ls, x -> length(x))), 0)"
    "   AS BIGINT) AS total_line_chars,"
    "  CAST(CASE WHEN len(ws) >= 2 THEN list_max(list_transform("
    "   list_distinct(list_transform(generate_series(1, len(ws) - 1),"
    "    i -> ws[i] || ' ' || ws[i+1])),"
    "   g -> CASE WHEN len(list_filter("
    "    list_transform(generate_series(1, len(ws) - 1),"
    "     i -> ws[i] || ' ' || ws[i+1]), x -> x = g)) >= 2"
    "    THEN (length(g) - 1) * len(list_filter("
    "     list_transform(generate_series(1, len(ws) - 1),"
    "      i -> ws[i] || ' ' || ws[i+1]), x -> x = g))"
    "    ELSE 0 END))"
    "   ELSE 0 END AS BIGINT) AS top_bigram_chars,"
    "  CAST(coalesce(list_sum(list_transform(ws, x -> length(x))), 0)"
    "   AS BIGINT) AS total_word_chars"
    "  FROM base)"
    " SELECT *, (10 * n_dup_lines > 3 * n_lines"
    "  OR 5 * dup_line_chars > total_line_chars"
    "  OR 5 * top_bigram_chars > total_word_chars) AS gopher_flagged"
    " FROM m ORDER BY doc_id",
)
def ext_repetition_filter(spark, sf_dir):
    """Gopher-style repetition quality filter (training-data hygiene):
    duplicate-line counts, duplicate-line characters, and the dominant
    word-bigram's character mass per document, with the composite flag in
    integer-exact arithmetic. The scenario plants a 3x-repeated
    newsletter line on every 30th doc, so flagged docs provably exist and
    the flag boundary is exercised cross-engine. Zero shuffles except
    the deterministic output sort (same shape as ext_pii_redact).
    Reference has no equivalent; LLM-pipeline extension contract
    (BASELINE.json)."""
    docs = spread(load_table(spark, "documents", sf_dir)).select("doc_id", "text")
    corpus = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 30 == 2,
            F.concat(F.col("text"), F.repeat(F.lit("\n" + _REP_LINE), 3)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return T.repetition_metrics(corpus).orderBy("doc_id")


@query(
    "ext_fingerprint",
    f"SELECT doc_id, md5({_NORM.format(c='text')}) AS fingerprint FROM documents",
)
def ext_fingerprint(spark, sf_dir):
    """Deterministic normalized-content fingerprint (md5)."""
    docs = spread(load_table(spark, "documents", sf_dir))
    return T.fingerprint(docs)


@query(
    "ext_multimodal_col",
    "SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'png', CAST(1104 AS BIGINT), 8),"
    " (CAST(2 AS BIGINT), 'jpeg', CAST(554 AS BIGINT), 8),"
    " (CAST(3 AS BIGINT), 'riff-wav', CAST(1404 AS BIGINT), 8))"
    " t(media_id, sniffed_format, n_bytes, n_features)",
)
def ext_multimodal_col(spark, sf_dir):
    """Binary media columns: magic-number sniffing + mapInPandas feature
    extraction (deterministic fake decoder; real codecs are stubbed)."""
    rows = [
        (1, "image", bytes([0x89, 0x50, 0x4E, 0x47]) + b"fakepngdata" * 100),
        (2, "image", bytes([0xFF, 0xD8, 0xFF, 0xE0]) + b"fakejpgdata" * 50),
        (3, "audio", b"RIFF" + b"fakewav" * 200),
    ]
    df = spark.createDataFrame(rows, "media_id long, media_type string, content binary")
    meta = MM.attach_media_meta(df).select("media_id", "sniffed_format", "n_bytes")
    feats = MM.extract_features(df).select(
        "media_id", F.size("features").alias("n_features")
    )
    return meta.join(feats, "media_id").select(
        "media_id", "sniffed_format", "n_bytes", F.col("n_features").cast("int").alias("n_features")
    )


@query(
    "ext_approx_distinct",
    "SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,"
    " true AS approx_within_5pct FROM events",
)
def ext_approx_distinct(spark, sf_dir):
    """HLL approximate distinct-count for profiling; sanity-bounded vs exact.

    The tolerance verdict is a pure column expression (20*|approx-exact|
    <= exact, i.e. within 5%, in integer arithmetic with a floor of 1) —
    no driver-side collect, so the swept artifact is the distributed
    computation itself, not a rewrapped local bool."""
    ev = load_table(spark, "events", sf_dir)
    return ev.agg(
        F.countDistinct("user_id").alias("exact_distinct"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("__approx"),
    ).select(
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        (
            20 * F.abs(F.col("__approx") - F.col("exact_distinct"))
            <= F.greatest(F.col("exact_distinct"), F.lit(20))
        ).alias("approx_within_5pct"),
    )



@query(
    "ext_knn_clusters",
    """WITH RECURSIVE
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      WHERE vec_id % 20 = 0 AND vec_id < 4000),
scored AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
   round(list_cosine_similarity(a.e, b.e), 6) AS sim
   FROM v a CROSS JOIN v b WHERE a.vec_id <> b.vec_id),
knn AS (SELECT qid, cid FROM (
   SELECT qid, cid, row_number() OVER
     (PARTITION BY qid ORDER BY sim DESC, cid) AS rnk FROM scored)
   WHERE rnk <= 5),
mutual AS (SELECT a.qid AS s, a.cid AS d FROM knn a
   JOIN knn b ON a.qid = b.cid AND a.cid = b.qid WHERE a.qid < a.cid),
edges AS (SELECT s, d FROM mutual UNION SELECT d, s FROM mutual),
reach (src, node) AS (
  SELECT vec_id, vec_id FROM v
  UNION
  SELECT r.src, e.d FROM reach r JOIN edges e ON r.node = e.s),
comp AS (SELECT src AS vec_id, CAST(min(node) AS BIGINT) AS cluster
         FROM reach GROUP BY src)
SELECT vec_id, cluster,
 CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_size
FROM comp""",
)
def ext_knn_clusters(spark, sf_dir):
    """Semantic cluster discovery: mutual-kNN graph over embeddings +
    connected components — the corpus-clustering composite behind
    SemDeDup-style pruning and topic bucketing. Per vector, its exact
    top-5 cosine neighbors; an edge survives only if it is MUTUAL (each
    endpoint ranks the other in its own top-5 — the standard sparsifier
    that kills hub vertices); clusters are the components of the mutual
    graph, labeled by min member id, with member counts.

    Scale: this key pins the exact contract on a SIZE-CAPPED mod-20
    slice (<= 200 vectors at any SF — the exact all-pairs kNN is the
    oracle-replayable fixture, deliberately bounded so its quadratic
    shape never rides a data-scale growth curve); at corpus scale the
    kNN edges come from the LSH-bucketed candidate path instead
    (operators/similarity.py: topk_cosine_lsh — bucket join + exact
    rescore, never all-pairs), the mutuality filter is one self-join of
    the O(corpus x k) edge list on the reversed key, and the component
    step is the same iterative min-label propagation as ext_dedup_clusters
    (one join + one groupBy per round, localCheckpoint-bounded lineage,
    rounds = cluster diameter, shallow by construction). The two-phase
    per-partition top-k keeps every reducer's input at O(k x partitions)
    rows per query."""
    embs = load_table(spark, "embeddings", sf_dir).where(
        (F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 4000)
    )
    edges = SIM.topk_cosine_bruteforce(embs, embs, k=5)
    a, b = edges.alias("a"), edges.alias("b")
    mutual = (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.corpus_id"))
            & (F.col("a.corpus_id") == F.col("b.query_id")),
        )
        .where(F.col("a.query_id") < F.col("a.corpus_id"))
        .select(
            F.col("a.query_id").alias("id_a"),
            F.col("a.corpus_id").alias("id_b"),
        )
    )
    labels = D.connected_components(mutual)
    comp = (
        embs.select("vec_id")
        .join(labels, embs.vec_id == labels.id, "left_outer")
        .select(
            "vec_id",
            F.coalesce(F.col("component"), F.col("vec_id")).alias("cluster"),
        )
    )
    sizes = comp.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return comp.join(sizes, "cluster").select(
        "vec_id", "cluster", "cluster_size"
    )


@query(
    "ext_dedup_cross",
    f"WITH sh AS (SELECT doc_id, {_SHINGLES3} AS sh FROM documents),"
    " train AS (SELECT * FROM sh WHERE doc_id % 2 = 0),"
    " ref AS (SELECT * FROM sh WHERE doc_id % 2 = 1)"
    " SELECT t.doc_id AS train_id, r.doc_id AS ref_id,"
    " round(CAST(len(list_intersect(t.sh, r.sh)) AS DOUBLE) /"
    " len(list_distinct(list_concat(t.sh, r.sh))), 6) AS jaccard,"
    " CAST(len(list_intersect(t.sh, r.sh)) AS DOUBLE) /"
    " len(list_distinct(list_concat(t.sh, r.sh))) >= 0.7 AS contaminated"
    " FROM train t JOIN ref r ON r.doc_id = t.doc_id + 1",
)
def ext_dedup_cross(spark, sf_dir):
    """CROSS-corpus near-dedup — the train-vs-eval filtering step that
    exact decontamination (ext_decontaminate's gram overlap) cannot
    cover: a train document is contaminated when its 3-gram shingle
    Jaccard against an evaluation-set document clears 0.7, even though
    no exact gram span matches. Corpora here are the even/odd doc_id
    halves with adjacent-pair candidates (the synthetic corpus's planted
    near-dup structure), keeping the exact-Jaccard contract oracle-
    replayable like ext_dedup_ngram_jaccard.

    Scale: cross-corpus candidates come from the SAME banded MinHash
    machinery as self-dedup (operators/dedup.py minhash_lsh_pairs —
    signatures computed per side, band buckets joined ACROSS sides, so
    the exchange carries 8-byte hashes and bucket sizes are bounded by
    true cross-dup cluster size); the eval side is typically tiny
    (benchmarks), so its banded signature table broadcasts and the train
    corpus never shuffles. The exact rescoring join this key pins runs
    only on the candidate pairs."""
    docs = load_table(spark, "documents", sf_dir)
    sh = docs.select(
        "doc_id", T.shingles(F.col("text"), 3).alias("sh")
    )
    train = sh.where(F.col("doc_id") % 2 == 0).alias("t")
    ref = sh.where(F.col("doc_id") % 2 == 1).alias("r")
    inter = F.size(F.array_intersect(F.col("t.sh"), F.col("r.sh")))
    union = F.size(F.array_union(F.col("t.sh"), F.col("r.sh")))
    jac = inter.cast("double") / union
    return train.join(
        ref, F.col("r.doc_id") == F.col("t.doc_id") + 1
    ).select(
        F.col("t.doc_id").alias("train_id"),
        F.col("r.doc_id").alias("ref_id"),
        F.round(jac, 6).alias("jaccard"),
        (jac >= 0.7).alias("contaminated"),
    )


@query(
    "ext_sim_radius",
    "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e"
    " FROM embeddings WHERE vec_id % 20 = 0 AND vec_id < 4000)"
    " SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,"
    " round(list_cosine_similarity(a.e, b.e), 6) AS cosine_sim"
    " FROM v a CROSS JOIN v b WHERE a.vec_id <> b.vec_id"
    " AND round(list_cosine_similarity(a.e, b.e), 6) >= 0.2",
)
def ext_sim_radius(spark, sf_dir):
    """Radius (range) similarity search: ALL neighbor pairs with cosine
    >= tau — the fixed-threshold complement of top-k ANN (duplicate
    detection wants 'everything above 0.95', not 'the nearest 10').
    Exact contract pinned on a SIZE-CAPPED mod-20 slice (<= 200 vectors
    at any SF — the exact cross join is the bounded oracle fixture); the
    emitted set is threshold-stable because the SAME round-6 similarity
    is both emitted and compared on each engine.

    Scale: radius search is the natural fit for the hyperplane-LSH
    bucket path (operators/similarity.py) — a cosine floor maps to a
    sign-agreement floor, so candidates sharing buckets in any table are
    exactly the high-cosine region and the exact rescore keeps only
    true positives; no per-query k-heap state at all, fully map-side
    after the bucket join."""
    embs = load_table(spark, "embeddings", sf_dir).where(
        (F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 4000)
    )
    scored = SIM._score(
        embs, embs, "vec_id", "vec_id", "embedding", "embedding"
    ).where(F.col("query_id") != F.col("corpus_id"))
    return scored.where(F.col("cosine_sim") >= 0.2)


@query(
    "ext_quality_classifier",
    f"""WITH feats AS (SELECT doc_id,
   least(length(text), 1000) AS f_len,
   least(len(list_filter({_TOKS}, t -> list_contains({T.STOPWORDS!r}, t))), 5) AS f_stop,
   CAST(len(list_distinct({_TOKS})) AS DOUBLE) / greatest(len({_TOKS}), 1) AS f_distinct
 FROM documents),
 scored AS (SELECT doc_id,
   -3.0 + 0.004 * f_len + 0.8 * f_stop + 2.0 * f_distinct AS z
 FROM feats)
 SELECT doc_id, round(0.5 + 0.5 * z / (1 + abs(z)), 6) AS quality_prob,
  z >= 0 AS keep FROM scored""",
)
def ext_quality_classifier(spark, sf_dir):
    """Model-based quality FILTERING — the learned-classifier shape
    (CCNet's fastText quality model, Llama-style linear filters) as
    opposed to ext_quality_score's raw heuristic signals: a fixed weight
    vector over interpretable features (saturated length, stopword hits,
    distinct-token ratio), a logistic-style link, and a keep/drop
    decision. The weights here are embedded constants standing in for a
    trained model; the operator shape — features assembled in codegen,
    weights applied as literal arithmetic, decision as a sign test — is
    exactly what a linear text classifier compiles to.

    Determinism: the link is the RATIONAL sigmoid 0.5 + z/(2(1+|z|)), not
    exp-based — +,*,/,abs are IEEE-exact and engine-identical, while
    libm exp() differs at the last bit across engines and could flip a
    rounded 6th decimal. The keep decision is a sign test on z (exact).

    Scale: one narrow codegen projection, zero exchanges, scan-bound —
    and at 100 TB a real fastText/transformer scorer swaps in as an
    Arrow-batched pandas_udf over the same feature frame (the
    ext_udf_vectorized escape hatch), with the filter pushed after it."""
    docs = load_table(spark, "documents", sf_dir)
    # UNFILTERED tokens, matching the oracle's _TOKS exactly: on a doc
    # whose text normalizes to empty, both engines split to [''] (one
    # token), so f_distinct is 1.0 on both sides — a filtered Spark side
    # would read 0.0 and flip the keep decision on punctuation-only docs
    toks = T.ws_tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(s) for s in T.STOPWORDS])
    f_len = F.least(F.length("text"), F.lit(1000))
    f_stop = F.least(
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))),
        F.lit(5),
    )
    f_distinct = F.size(F.array_distinct(toks)).cast("double") / F.greatest(
        F.size(toks), F.lit(1)
    )
    z = (
        F.lit(-3.0)
        + F.lit(0.004) * f_len
        + F.lit(0.8) * f_stop
        + F.lit(2.0) * f_distinct
    )
    return docs.select(
        "doc_id",
        F.round(F.lit(0.5) + F.lit(0.5) * z / (F.lit(1) + F.abs(z)), 6).alias(
            "quality_prob"
        ),
        (z >= 0).alias("keep"),
    )
