"""Deterministic sampling, packing, corpus-pipeline and clustering keys.

Split from the original single-module ``queries.py`` (round-5 refactor);
shares the registry, helpers, and imports of ``._core`` — registration
order (and therefore ``ordered_keys()``) is fixed by the import order in
``__init__``.
"""

from __future__ import annotations

from incremental_etl_on_lakehouse_spark.queries._core import *  # noqa: F401,F403
from incremental_etl_on_lakehouse_spark.queries._s3_ext import (  # noqa: E402
    _NORM, _TOKS,
)

# ---------------------------------------------------------------------------
# Deterministic sampling & sequence packing (training-data pipeline ops;
# operators/sampling.py)
# ---------------------------------------------------------------------------

_HB = "CAST(concat('0x', substring(md5(CAST({k} AS VARCHAR)), 1, 8)) AS BIGINT)"


@query(
    "ext_sample_hash",
    f"SELECT doc_id, lang, source FROM documents"
    f" WHERE {_HB.format(k='doc_id')} < CAST(0.3 * 4294967296 AS BIGINT)",
)
def ext_sample_hash(spark, sf_dir):
    """Deterministic ~30% sample by content-hash bucket: reproducible across
    retries/partitionings (unlike df.sample), no shuffle, filter runs in the
    scan projection."""
    from incremental_etl_on_lakehouse_spark.operators.sampling import hash_sample

    docs = load_table(spark, "documents", sf_dir)
    return hash_sample(docs, "doc_id", 0.3).select("doc_id", "lang", "source")


@query(
    "ext_sample_stratified",
    f"SELECT doc_id, source FROM documents WHERE {_HB.format(k='doc_id')} <"
    " CASE WHEN source IN ('src0', 'src1', 'src2') THEN CAST(0.9 * 4294967296 AS BIGINT)"
    " WHEN source IN ('src3', 'src4') THEN CAST(0.2 * 4294967296 AS BIGINT) ELSE 0 END",
)
def ext_sample_stratified(spark, sf_dir):
    """Training-mixture weighting: per-source deterministic sampling rates
    (keep 90% of src0-2, 20% of src3-4, drop the rest)."""
    from incremental_etl_on_lakehouse_spark.operators.sampling import (
        stratified_hash_sample,
    )

    docs = load_table(spark, "documents", sf_dir)
    fr = {"src0": 0.9, "src1": 0.9, "src2": 0.9, "src3": 0.2, "src4": 0.2}
    return stratified_hash_sample(docs, "doc_id", "source", fr).select(
        "doc_id", "source"
    )


@query(
    "ext_pack_sequences",
    "SELECT doc_id, source, n_tokens,"
    " CAST(floor((cum - n_tokens) / 4096.0) AS BIGINT) AS shard FROM ("
    " SELECT doc_id, source, n_tokens, sum(n_tokens) OVER ("
    "  PARTITION BY source ORDER BY doc_id"
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum"
    " FROM (SELECT doc_id, source, CASE WHEN length(trim(text)) = 0 THEN 0"
    "  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens"
    "  FROM documents))",
)
def ext_pack_sequences(spark, sf_dir):
    """Sequence packing for training: docs (per source, in doc_id order) are
    assigned to 4096-token shards by running-total offset — the shard/batch
    planning step of an LLM data loader (operators/sampling.py)."""
    from incremental_etl_on_lakehouse_spark.operators.sampling import pack_sequences

    docs = load_table(spark, "documents", sf_dir)
    sized = docs.select(
        "doc_id", "source", T.token_count_ws(F.col("text")).alias("n_tokens")
    )
    return pack_sequences(
        sized, "n_tokens", ["doc_id"], budget=4096, partition_cols=["source"]
    ).select("doc_id", "source", F.col("n_tokens").cast("int").alias("n_tokens"), "shard")


@query(
    "ext_mix_budget",
    "WITH tot AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS t"
    " FROM documents GROUP BY source)"
    " SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars"
    " FROM documents JOIN tot USING (source)"
    f" WHERE CAST({_HB.format(k='doc_id')} AS HUGEINT) * t <"
    " CAST(CASE source WHEN 'src0' THEN 100000 WHEN 'src1' THEN 4000"
    "  WHEN 'src2' THEN 2000 WHEN 'src3' THEN 0 ELSE NULL END AS HUGEINT)"
    " * 4294967296",
)
def ext_mix_budget(spark, sf_dir):
    """Budget-driven training-mixture sampling: per-source size budgets (in
    chars here; tokens in production) derive each stratum's keep-rate from
    its actual total — src0's budget exceeds its total (whole stratum
    kept), src1/src2 sample to ~47%/~26%, src3 gets budget 0 and absent
    sources drop. Verdicts are exact integer/decimal arithmetic on the
    md5 bucket — no float division — so the kept set is deterministic on
    any engine, cluster layout, or retry (operators/sampling.py:
    budget_mix_sample)."""
    from incremental_etl_on_lakehouse_spark.operators.sampling import (
        budget_mix_sample,
    )

    docs = load_table(spark, "documents", sf_dir)
    budgets = {"src0": 100000, "src1": 4000, "src2": 2000, "src3": 0}
    return budget_mix_sample(docs, "doc_id", "source", "n_chars", budgets).select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


_LANG_GROUP = (
    "CASE WHEN CAST(substring(source, 4) AS INT) < 14 THEN 'big'"
    " WHEN CAST(substring(source, 4) AS INT) < 19 THEN 'mid'"
    " ELSE 'small' END"
)


@query(
    "ext_sample_temperature",
    f"WITH d AS (SELECT doc_id, {_LANG_GROUP} AS lang_group FROM documents),"
    " c AS (SELECT lang_group, count(*) AS n_s FROM d GROUP BY lang_group),"
    " sq AS (SELECT lang_group, n_s,"
    "  CAST(round(sqrt(CAST(n_s AS DOUBLE)) * 1000000) AS BIGINT) AS w_micro"
    "  FROM c),"
    " tot AS (SELECT CAST(sum(w_micro) AS HUGEINT) AS sum_w FROM sq)"
    " SELECT d.doc_id, d.lang_group FROM d"
    " JOIN sq USING (lang_group) CROSS JOIN tot"
    f" WHERE CAST({_HB.format(k='d.doc_id')} AS HUGEINT) * sum_w"
    "  * CAST(n_s AS HUGEINT)"
    " < CAST(250 AS HUGEINT) * CAST(w_micro AS HUGEINT) * 4294967296",
)
def ext_sample_temperature(spark, sf_dir):
    """Temperature-smoothed mixture sampling (mBERT/XLM-R/mT5's
    ``q_s ∝ n_s^alpha``, here the classic alpha = 0.5) over deliberately
    SKEWED strata (sources folded into big/mid/small language groups,
    14:5:1): a 250-doc target is allocated by sqrt-smoothed counts —
    flattening the big group, upweighting the small one, whose rate caps
    at 1 (kept whole: without-replacement sampling can't upsample). sqrt
    is IEEE-correctly-rounded and the verdict is all-integer decimal
    arithmetic (bucket·Σw·n_s < target·w_s·BUCKETS), so the kept set is
    bit-identical on any engine, layout, or retry (operators/sampling.py:
    temperature_mix_sample)."""
    from incremental_etl_on_lakehouse_spark.operators.sampling import (
        temperature_mix_sample,
    )

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.expr(_LANG_GROUP).alias("lang_group")
    )
    return temperature_mix_sample(
        docs, "doc_id", "lang_group", target_rows=250, alpha=0.5
    ).select("doc_id", "lang_group")


@query(
    "ext_chunk_docs",
    "WITH base AS (SELECT doc_id,"
    " list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks"
    " FROM documents),"
    " sized AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM base),"
    " c AS (SELECT doc_id, toks, n, CASE WHEN n <= 32 THEN 1"
    "  ELSE CAST(floor((n - 32 + 23) / 24.0) AS BIGINT) + 1 END AS nc FROM sized),"
    " e AS (SELECT doc_id, toks, n,"
    "  unnest(generate_series(0, nc - 1)) AS chunk_idx FROM c)"
    " SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,"
    " array_to_string(list_slice(toks, CAST(chunk_idx * 24 + 1 AS BIGINT),"
    "  CAST(chunk_idx * 24 + 32 AS BIGINT)), ' ') AS chunk_text,"
    " CAST(least(32, n - chunk_idx * 24) AS BIGINT) AS n_chunk_tokens"
    " FROM e ORDER BY doc_id, chunk_idx",
)
def ext_chunk_docs(spark, sf_dir):
    """Sliding-window token chunking (window=32, stride=24, overlap 8) —
    the training-sequence prep step between corpus hygiene and
    ext_pack_sequences. Every document yields >= 1 chunk (short docs are
    never dropped); long docs overlap so no context is lost at chunk
    boundaries. Narrow projection + explode, zero shuffles before the
    deterministic output sort (operators/text.py: chunk_documents).
    Reference has no equivalent; LLM-pipeline extension contract
    (BASELINE.json)."""
    docs = spread(load_table(spark, "documents", sf_dir)).select("doc_id", "text")
    return T.chunk_documents(docs, window=32, stride=24).orderBy(
        "doc_id", "chunk_idx"
    )


@query(
    "ext_tfidf_topk",
    "WITH toksrc AS (SELECT doc_id,"
    " unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''))"
    "  AS term FROM documents),"
    " tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf"
    "  FROM toksrc GROUP BY doc_id, term),"
    " dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),"
    " nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),"
    " scored AS (SELECT doc_id, term, tf, df,"
    "  round(tf * (ln((n + 1.0) / (df + 1.0)) + 1), 6) AS tfidf"
    "  FROM tf JOIN dfq USING (term) CROSS JOIN nd),"
    " ranked AS (SELECT doc_id, term, tf, df, tfidf,"
    "  CAST(row_number() OVER (PARTITION BY doc_id"
    "   ORDER BY tfidf DESC, term ASC) AS INT) AS rank FROM scored)"
    " SELECT doc_id, term, tf, df, tfidf, rank FROM ranked"
    " WHERE rank <= 3 ORDER BY doc_id, rank",
)
def ext_tfidf_topk(spark, sf_dir):
    """Per-document top-3 TF-IDF terms (smoothed idf = ln((N+1)/(df+1))+1,
    scores rounded to 6 decimals before the (score desc, term asc) rank so
    the tiebreak is engine-independent). Two uniform hash aggregations, a
    term-keyed shuffle join sized by AQE, a broadcast 1-row corpus-count
    crossJoin, and a per-doc top-k window (operators/text.py: tfidf_topk).
    Reference has no equivalent; LLM-pipeline extension contract
    (BASELINE.json)."""
    docs = spread(load_table(spark, "documents", sf_dir)).select("doc_id", "text")
    return T.tfidf_topk(docs, k=3).orderBy("doc_id", "rank")


@query(
    "stream_exactly_once",
    "SELECT event_id, user_id, (epoch_ns(ts) // 1000000) AS ts_ms, true AS exactly_once"
    " FROM events WHERE event_id < 200 ORDER BY event_id",
)
def stream_exactly_once(spark, sf_dir):
    """Exactly-once streaming sink via idempotent txn-versioned appends
    (Delta's txnAppId/txnVersion, lake/table.py: append): a foreachBatch
    consumer lands each micro-batch with txn_version = source commit
    version, then the CHECKPOINT IS LOST (fresh reader from version 1 —
    the classic crash-recovery double-delivery) and every batch replays.
    The sink's txn guard turns every replay into a no-op, so the oracle's
    exactly-once row set holds and `exactly_once` attests the sink
    version did not advance during the replay."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", MS("ts").alias("ts_ms")
    ).where(F.col("event_id") < 200)
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("ts_ms", LongType()),
        ]
    )
    src = LakeTable.create(spark, os.path.join(_tmpdir(), "xsrc"), schema)
    src.append(ev.where(F.col("event_id") < 100))
    src.append(ev.where(F.col("event_id") >= 100))
    sink = LakeTable.create(spark, os.path.join(_tmpdir(), "xsink"), schema)

    def land(df, version):
        sink.append(df, txn_app_id="gold-job", txn_version=version)

    ck = os.path.join(_tmpdir(), "ck.json")
    LakeStreamReader(src, ck, mode="append", starting_version=1).process_available(
        land
    )
    v_done = sink.version()
    n_done = sink.to_df().count()
    # checkpoint loss: a fresh reader re-delivers EVERY batch
    ck2 = os.path.join(_tmpdir(), "ck2.json")
    LakeStreamReader(src, ck2, mode="append", starting_version=1).process_available(
        land
    )
    exactly_once = sink.version() == v_done and sink.to_df().count() == n_done
    return sink.to_df().select(
        "event_id", "user_id", "ts_ms", F.lit(bool(exactly_once)).alias("exactly_once")
    ).orderBy("event_id")


@query(
    "ext_dedup_incremental",
    "WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),"
    " inc AS (SELECT d.doc_id,"
    "  CASE WHEN d.doc_id % 10 = 0 THEN n.text ELSE d.text END AS text"
    "  FROM documents d JOIN documents n ON n.doc_id = d.doc_id + 1"
    "  WHERE d.doc_id % 5 = 0)"
    " SELECT i.doc_id AS new_id, h.doc_id AS old_id, true AS store_ok"
    f" FROM inc i JOIN hist h ON md5({_NORM.format(c='i.text')})"
    f"  = md5({_NORM.format(c='h.text')})"
    " ORDER BY new_id, old_id",
)
def ext_dedup_incremental(spark, sf_dir):
    """INCREMENTAL near-dup detection — the fusion of this engine's two
    pillars: the historical corpus's LSH state lives in a lake table of
    (id, band, bucket) rows (operators/dedup.py: minhash_band_table), and
    a new batch dedups against ALL of history by joining its own band
    table against the store (incremental_dedup_candidates) — history is
    never re-scanned or re-hashed. Candidates are verified by exact
    normalized-content equality, and the increment's buckets are appended
    back so the store stays current (store_ok attests the append-only
    maintenance arithmetic). Every 10th doc in the increment is a planted
    verbatim copy of a historical doc — identical signatures collide in
    every band, so the oracle's md5-equality join is exactly the
    guaranteed-recall subset the verifier keeps. Scale: the store is
    O(bands) 8-byte keys per historical doc; each batch costs its own
    hashing plus a bucket-keyed join, independent of corpus text size.
    Generalizes the reference's incremental 'process only the new data'
    doctrine (notebooks/demo-notebook.py:329-331) to corpus hygiene."""
    from incremental_etl_on_lakehouse_spark.operators.dedup import (
        incremental_dedup_candidates,
        minhash_band_table,
    )
    from incremental_etl_on_lakehouse_spark.operators.text import normalize_text

    docs = spread(load_table(spark, "documents", sf_dir)).select("doc_id", "text")
    hist = docs.where(F.col("doc_id") % 5 != 0)
    nxt = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("__nt")
    )
    inc = (
        docs.join(nxt, "doc_id")
        .where(F.col("doc_id") % 5 == 0)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 10 == 0, F.col("__nt"))
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    store = LakeTable.create(
        spark,
        os.path.join(_tmpdir(), "sigstore"),
        StructType(
            [
                StructField("id", LongType()),
                StructField("band", IntegerType()),
                StructField("bucket", LongType()),
            ]
        ),
    )
    v1 = store.append(minhash_band_table(hist))
    cand = incremental_dedup_candidates(minhash_band_table(inc), store.to_df())
    newh = inc.select(
        F.col("doc_id").alias("new_id"),
        F.md5(normalize_text(F.col("text"))).alias("__hn"),
    )
    oldh = hist.select(
        F.col("doc_id").alias("old_id"),
        F.md5(normalize_text(F.col("text"))).alias("__ho"),
    )
    matches = (
        cand.join(newh, "new_id")
        .join(oldh, "old_id")
        .where(F.col("__hn") == F.col("__ho"))
        .select("new_id", "old_id")
    )
    v2 = store.append(minhash_band_table(inc))
    inserted = sum(
        h["metrics"].get("num_inserted_rows", 0)
        for h in store.history()
        if h["version"] in (v1, v2)
    )
    store_ok = inserted == store.to_df().count() and v2 == v1 + 1
    return matches.select(
        "new_id", "old_id", F.lit(bool(store_ok)).alias("store_ok")
    ).orderBy("new_id", "old_id")


_SHARED_PASSAGE = (
    "this software is provided as is without warranty of any kind either"
    " express or implied"
)


@query(
    "ext_substring_dedup",
    "WITH corpus AS (SELECT doc_id, CASE WHEN doc_id % 40 = 3"
    f" THEN text || ' ' || '{_SHARED_PASSAGE}' ELSE text END AS text"
    " FROM documents),"
    " base AS (SELECT doc_id,"
    "  list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks"
    "  FROM corpus),"
    " grams AS (SELECT doc_id, list_distinct(list_transform("
    "  generate_series(1, greatest(len(toks) - 11, 0)),"
    "  i -> array_to_string(list_slice(toks, i, i + 11), ' '))) AS gs FROM base),"
    " e AS (SELECT doc_id, unnest(gs) AS g FROM grams),"
    " dup AS (SELECT g FROM e GROUP BY g HAVING count(*) >= 2),"
    " cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup"
    "  FROM e JOIN dup USING (g) GROUP BY doc_id)"
    " SELECT g2.doc_id, CAST(len(g2.gs) AS BIGINT) AS n_grams,"
    " CAST(coalesce(c.n_dup, 0) AS BIGINT) AS n_dup_grams,"
    " coalesce(c.n_dup, 0) > 0 AS flagged"
    " FROM grams g2 LEFT JOIN cnt c USING (doc_id) ORDER BY g2.doc_id",
)
def ext_substring_dedup(spark, sf_dir):
    """Cross-document duplicate-substring detection at 12-token-gram
    granularity (operators/dedup.py: substring_dup_stats) — the Lee et al.
    2022 signal that catches verbatim shared passages (licenses,
    templates) that line- and document-level dedup miss. The scenario
    plants a shared legal-boilerplate passage on every 40th doc, so
    flagged docs provably exist, and the gram-overlap counts are
    hash-verified exactly. Gram shuffles key on xxhash64(gram) (8-byte
    keys); distinct-per-doc grams make document frequency a single
    count(*) aggregation. Reference has no equivalent; LLM-pipeline
    extension contract (BASELINE.json)."""
    docs = spread(load_table(spark, "documents", sf_dir)).select("doc_id", "text")
    corpus = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 40 == 3,
            F.concat(F.col("text"), F.lit(" " + _SHARED_PASSAGE)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return D.substring_dup_stats(corpus, k=12).orderBy("doc_id")


@query(
    "ext_corpus_pipeline",
    "WITH dedup AS (SELECT doc_id, text FROM ("
    "  SELECT doc_id, text, row_number() OVER ("
    "   PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM documents)"
    "  WHERE rn = 1),"
    " kept AS (SELECT doc_id, text FROM dedup WHERE"
    "  len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) >= 20),"
    " base AS (SELECT doc_id,"
    "  list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks"
    "  FROM kept),"
    " sized AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM base),"
    " c AS (SELECT doc_id, toks, n, CASE WHEN n <= 32 THEN 1"
    "  ELSE CAST(floor((n - 32 + 23) / 24.0) AS BIGINT) + 1 END AS nc FROM sized),"
    " e AS (SELECT doc_id, toks, n,"
    "  unnest(generate_series(0, nc - 1)) AS chunk_idx FROM c)"
    " SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,"
    " array_to_string(list_slice(toks, CAST(chunk_idx * 24 + 1 AS BIGINT),"
    "  CAST(chunk_idx * 24 + 32 AS BIGINT)), ' ') AS chunk_text,"
    " CAST(least(32, n - chunk_idx * 24) AS BIGINT) AS n_chunk_tokens"
    " FROM e ORDER BY doc_id, chunk_idx",
)
def ext_corpus_pipeline(spark, sf_dir):
    """End-to-end training-corpus preparation, composed from the
    engine's own operators: exact dedup (min-id representative per content
    hash, operators/dedup.py:dedup_exact) -> minimum-length quality filter
    (token_count_ws >= 20) -> sliding-window chunking (window 32, stride
    24, text.py:chunk_documents). One shuffle total (the dedup hash
    groupBy); the filter and chunker are narrow scan-bound projections, so
    the whole pipeline reads the corpus twice (dedup probe + rewrite side
    of the semi-join) regardless of scale. The oracle replays every stage
    in SQL, so the composition — not just the pieces — is hash-verified.
    Reference has no equivalent; LLM-pipeline extension contract
    (BASELINE.json)."""
    docs = spread(load_table(spark, "documents", sf_dir)).select("doc_id", "text")
    deduped = D.dedup_exact(docs, ["text"], id_col="doc_id")
    kept = deduped.where(T.token_count_ws(F.col("text")) >= 20)
    return T.chunk_documents(kept, window=32, stride=24).orderBy(
        "doc_id", "chunk_idx"
    )


@query(
    "ext_lm_perplexity",
    "WITH toksrc AS (SELECT doc_id,"
    " unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''))"
    "  AS term FROM documents),"
    " tc AS (SELECT term, count(*) AS c FROM toksrc GROUP BY term),"
    " tot AS (SELECT CAST(count(*) AS DOUBLE) AS t,"
    "  CAST(count(DISTINCT term) AS DOUBLE) AS v FROM toksrc),"
    " scored AS (SELECT doc_id, -ln((c + 1.0) / (t + v)) AS lp"
    "  FROM toksrc JOIN tc USING (term) CROSS JOIN tot)"
    " SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,"
    " round(avg(lp), 6) AS cross_entropy,"
    " round(exp(avg(lp)), 2) AS perplexity"
    " FROM scored GROUP BY doc_id ORDER BY doc_id",
)
def ext_lm_perplexity(spark, sf_dir):
    """Unigram-LM cross-entropy / perplexity scoring (the CCNet-style
    quality bucket signal): the LM is add-1-smoothed unigram counts fit on
    the corpus itself, each document scored by avg(-ln p(token)). One
    explode, one uniform term aggregation, a term-keyed AQE join, a
    broadcast 1-row (T, V) crossJoin, and a per-doc agg — same shuffle
    discipline as ext_tfidf_topk (operators/text.py: unigram_lm_score).
    Reference has no equivalent; LLM-pipeline extension contract
    (BASELINE.json)."""
    docs = spread(load_table(spark, "documents", sf_dir)).select("doc_id", "text")
    return T.unigram_lm_score(docs).orderBy("doc_id")


@query(
    "ext_export_shards",
    "SELECT source, CAST(floor((cum - n_tokens) / 4096.0) AS BIGINT) AS shard,"
    " CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tokens) AS BIGINT)"
    " AS sum_tokens, true AS roundtrip_ok FROM ("
    " SELECT doc_id, source, n_tokens, sum(n_tokens) OVER ("
    "  PARTITION BY source ORDER BY doc_id"
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum"
    " FROM (SELECT doc_id, source, CASE WHEN length(trim(text)) = 0 THEN 0"
    "  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens"
    "  FROM documents))"
    " GROUP BY source, shard ORDER BY source, shard",
)
def ext_export_shards(spark, sf_dir):
    """Training-data DELIVERY: the packed corpus exported as JSONL shard
    directories (`.../source=X/shard=N/*.json`) — the handoff format data
    loaders actually consume — then READ BACK and verified document-exact
    (roundtrip_ok compares xxhash64(text) multisets per shard between the
    export and the re-read). The shard assignment is ext_pack_sequences'
    running-total plan; the write is one hive-partitioned JSON sink, so
    at 100 TB each (source, shard) directory lands as its own file set
    with no extra shuffle beyond the packing window. The oracle pins the
    per-shard manifest exactly."""
    from incremental_etl_on_lakehouse_spark.operators.sampling import pack_sequences

    docs = load_table(spark, "documents", sf_dir)
    sized = docs.select(
        "doc_id", "source", T.token_count_ws(F.col("text")).alias("n_tokens")
    )
    packed = pack_sequences(
        sized, "n_tokens", ["doc_id"], budget=4096, partition_cols=["source"]
    ).join(docs.select("doc_id", "text"), "doc_id")
    out = os.path.join(_tmpdir(), "shards")
    packed.select("doc_id", "text", "n_tokens", "source", "shard").write.partitionBy(
        "source", "shard"
    ).mode("overwrite").json(out)
    back = spark.read.json(out).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("source").cast("string").alias("source"),
        F.col("shard").cast("long").alias("shard"),
    )

    def sig(df):
        return df.groupBy("source", "shard").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            # xor-fold (order-independent, overflow-free) content signature
            F.bit_xor(F.xxhash64("doc_id", "text")).alias("__sig"),
        )

    a, b = sig(packed).alias("a"), sig(back).alias("b")
    mismatches = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.shard") == F.col("b.shard"))
            & (F.col("a.n_docs") == F.col("b.n_docs"))
            & (F.col("a.sum_tokens") == F.col("b.sum_tokens"))
            & (F.col("a.__sig") == F.col("b.__sig")),
            "left_anti",
        ).count()
        + sig(back).count()
        - sig(packed).count()
    )
    ok = mismatches == 0
    return sig(packed).select(
        F.col("source"),
        F.col("shard"),
        F.col("n_docs"),
        F.col("sum_tokens"),
        F.lit(bool(ok)).alias("roundtrip_ok"),
    ).orderBy("source", "shard")


@query(
    "ext_embedding_quantize",
    "WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),"
    " s AS (SELECT vec_id, v,"
    "  list_max(list_transform(v, x -> abs(x))) AS mx FROM d),"
    " sc AS (SELECT vec_id, v,"
    "  CASE WHEN mx > 0 THEN 127.0 / mx ELSE 0.0 END AS scale FROM s)"
    " SELECT vec_id,"
    " array_to_string(list_transform(v,"
    "  x -> CAST(CAST(floor(x * scale + 0.5) AS INT) AS VARCHAR)), ',') AS q,"
    " round(scale, 6) AS scale_r,"
    " round(CASE WHEN scale > 0 THEN list_max(list_transform(v,"
    "  x -> abs(x - floor(x * scale + 0.5) / scale))) ELSE 0.0 END, 9)"
    "  AS max_err"
    " FROM sc ORDER BY vec_id",
)
def ext_embedding_quantize(spark, sf_dir):
    """Symmetric int8 quantization of the embedding corpus — the standard
    4x storage/bandwidth compression applied before ANN indexing at
    100 TB vector scale: per-vector scale = 127/max|x|, q = round(x*scale)
    in [-127, 127], with the max reconstruction error reported per vector.
    Rounding is floor(x+0.5) — an exact IEEE operation identical across
    engines (banker's-vs-half-up round() differences can't flip a code) —
    so the quantized codes are bit-deterministic and fully hash-verified.
    Pure narrow codegen projection: zero shuffles before the output sort.
    Reference has no equivalent; LLM-pipeline extension contract
    (BASELINE.json)."""
    embs = spread(load_table(spark, "embeddings", sf_dir))
    dvec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = embs.select("vec_id", dvec.alias("v"))
    mx = F.array_max(F.transform(F.col("v"), F.abs))
    scale = F.when(mx > 0, F.lit(127.0) / mx).otherwise(F.lit(0.0))
    sc = base.select("vec_id", "v", scale.alias("scale"))
    q = F.transform(
        F.col("v"),
        lambda x: F.floor(x * F.col("scale") + F.lit(0.5)).cast("int").cast("string"),
    )
    err = F.when(
        F.col("scale") > 0,
        F.array_max(
            F.transform(
                F.col("v"),
                lambda x: F.abs(
                    x
                    - F.floor(x * F.col("scale") + F.lit(0.5)) / F.col("scale")
                ),
            )
        ),
    ).otherwise(F.lit(0.0))
    return sc.select(
        "vec_id",
        F.array_join(q, ",").alias("q"),
        F.round(F.col("scale"), 6).alias("scale_r"),
        F.round(err, 9).alias("max_err"),
    ).orderBy("vec_id")


@query(
    "ext_udf_vectorized",
    "SELECT vec_id,"
    " round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))), 6)"
    "  AS l2_norm,"
    " round(list_sum(CAST(embedding AS DOUBLE[])) / len(embedding), 6) AS mean_val"
    " FROM embeddings",
)
def ext_udf_vectorized(spark, sf_dir):
    """Vectorized (Arrow) pandas_udf over the embedding column: per-vector
    L2 norm and mean computed on whole numpy batches — the engine's slow-path
    escape hatch demonstrated oracle-checked (hot paths stay JVM-side; see
    ext_embedding_cosine for the builtin-function version of this kernel)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def l2_norm(col: pd.Series) -> pd.Series:
        import numpy as np

        return col.map(lambda v: float(np.sqrt(np.dot(v, v))))

    @pandas_udf("double")
    def mean_val(col: pd.Series) -> pd.Series:
        import numpy as np

        return col.map(lambda v: float(np.mean(v)))

    embs = load_table(spark, "embeddings", sf_dir)
    dvec = F.expr("CAST(transform(embedding, x -> CAST(x AS DOUBLE)) AS ARRAY<DOUBLE>)")
    return embs.select(
        "vec_id",
        F.round(l2_norm(dvec), 6).alias("l2_norm"),
        F.round(mean_val(dvec), 6).alias("mean_val"),
    )


@query(
    "q6_forecast_revenue",
    "SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *"
    " CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue_delta"
    " FROM lineitem WHERE l_quantity < 24 AND l_discount BETWEEN 0.05 AND 0.07",
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure filter + global aggregate — every predicate
    reaches the parquet scan (PushedFilters) and the aggregate is a
    two-phase partial/final with no grouping shuffle."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.where(
            (F.col("l_quantity") < 24)
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast(DEC) * F.col("l_discount").cast(DEC4))
            .cast("double")
            .alias("revenue_delta")
        )
    )


@query(
    "ext_dedup_clusters",
    f"""WITH RECURSIVE
sh AS (SELECT doc_id, list_distinct({_TOKS}) AS sh FROM documents),
adj AS (SELECT a.doc_id AS s, b.doc_id AS d FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              len(list_distinct(list_concat(a.sh, b.sh))) >= 0.7),
edges AS (SELECT s, d FROM adj UNION SELECT d, s FROM adj),
reach (src, node) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.d FROM reach r JOIN edges e ON r.node = e.s
)
SELECT src AS doc_id, CAST(min(node) AS BIGINT) AS component FROM reach GROUP BY src""",
)
def ext_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS, not just pairs: connected components over
    adjacent-pair distinct-token Jaccard >= 0.7 edges (on this corpus:
    500 docs -> 301 clusters, chains up to 10 docs at sf0.01). Iterative
    min-label propagation in Spark
    (operators/dedup.py:connected_components); the oracle replays the same
    transitive closure with a recursive CTE. This is the step that collapses
    A~B, B~C into one cluster {A,B,C} even when A and C look unrelated."""
    docs = load_table(spark, "documents", sf_dir)
    sh = docs.select(
        "doc_id", F.array_distinct(T.ws_tokens(F.col("text"))).alias("sh")
    )
    a, b = sh.alias("a"), sh.alias("b")
    jac = (
        F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh"))).cast("double")
        / F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    )
    adj = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .where(jac >= 0.7)
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    labels = D.connected_components(adj)
    return (
        docs.select("doc_id")
        .join(labels, docs.doc_id == labels.id, "left_outer")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        )
    )


@query(
    "ext_dedup_survivors",
    f"""WITH RECURSIVE
sh AS (SELECT doc_id, list_distinct({_TOKS}) AS sh FROM documents),
adj AS (SELECT a.doc_id AS s, b.doc_id AS d FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              len(list_distinct(list_concat(a.sh, b.sh))) >= 0.7),
edges AS (SELECT s, d FROM adj UNION SELECT d, s FROM adj),
reach (src, node) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.d FROM reach r JOIN edges e ON r.node = e.s
)
SELECT src AS doc_id, CAST(min(node) AS BIGINT) AS component,
 src = min(node) AS kept FROM reach GROUP BY src ORDER BY doc_id""",
)
def ext_dedup_survivors(spark, sf_dir):
    """Dedup SURVIVOR selection — the step that turns near-dup clusters
    into the actual filtered corpus: one representative (the min-id
    member) is kept per connected component, every other member dropped.
    Same clustering path as ext_dedup_clusters (iterative min-label
    propagation); kept = (doc_id == component) is a pure projection on the
    labels, so survivorship costs nothing beyond the clustering itself.
    The oracle replays the closure and the keep rule exactly."""
    docs = load_table(spark, "documents", sf_dir)
    sh = docs.select(
        "doc_id", F.array_distinct(T.ws_tokens(F.col("text"))).alias("sh")
    )
    a, b = sh.alias("a"), sh.alias("b")
    jac = (
        F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh"))).cast("double")
        / F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    )
    adj = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .where(jac >= 0.7)
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    labels = D.connected_components(adj)
    comp = F.coalesce(F.col("component"), F.col("doc_id"))
    return (
        docs.select("doc_id")
        .join(labels, docs.doc_id == labels.id, "left_outer")
        .select(
            "doc_id",
            comp.alias("component"),
            (F.col("doc_id") == comp).alias("kept"),
        )
        .orderBy("doc_id")
    )


@query(
    "ext_quality_buckets",
    "WITH toksrc AS (SELECT doc_id,"
    " unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''))"
    "  AS term FROM documents),"
    " tc AS (SELECT term, count(*) AS c FROM toksrc GROUP BY term),"
    " tot AS (SELECT CAST(count(*) AS DOUBLE) AS t,"
    "  CAST(count(DISTINCT term) AS DOUBLE) AS v FROM toksrc),"
    " scored AS (SELECT doc_id, round(avg(-ln((c + 1.0) / (t + v))), 6)"
    "  AS cross_entropy FROM toksrc JOIN tc USING (term) CROSS JOIN tot"
    "  GROUP BY doc_id)"
    " SELECT doc_id, cross_entropy,"
    " CAST(ntile(3) OVER (ORDER BY cross_entropy, doc_id) AS INT) AS ppl_bucket"
    " FROM scored ORDER BY doc_id",
)
def ext_quality_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing: corpus split into head/middle/tail
    thirds by unigram-LM cross-entropy (head = most in-distribution; the
    buckets drive mixture weights in training pipelines). Scores are
    rounded before the (score, doc_id) rank so the split is
    engine-deterministic. This is the EXACT variant (per-document ranks,
    exactly-equal bucket sizes): the ntile is a global window over
    (doc_id, score) scalars — fine into the low billions of docs, a
    single-reducer sort beyond that. The scale path is the sibling key
    ext_quality_buckets_scale (broadcast histogram-derived thresholds,
    no O(docs) window; operators/text.py: quality_buckets_by_threshold)."""
    from pyspark.sql import Window

    docs = spread(load_table(spark, "documents", sf_dir)).select("doc_id", "text")
    scored = T.unigram_lm_score(docs).select("doc_id", "cross_entropy")
    w = Window.orderBy(F.col("cross_entropy").asc(), F.col("doc_id").asc())
    return scored.select(
        "doc_id", "cross_entropy", F.ntile(3).over(w).alias("ppl_bucket")
    ).orderBy("doc_id")


@query(
    "ext_quality_buckets_scale",
    "WITH toksrc AS (SELECT doc_id,"
    " unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''))"
    "  AS term FROM documents),"
    " tc AS (SELECT term, count(*) AS c FROM toksrc GROUP BY term),"
    " tot AS (SELECT CAST(count(*) AS DOUBLE) AS t,"
    "  CAST(count(DISTINCT term) AS DOUBLE) AS v FROM toksrc),"
    " scored AS (SELECT doc_id, round(avg(-ln((c + 1.0) / (t + v))), 6)"
    "  AS cross_entropy FROM toksrc JOIN tc USING (term) CROSS JOIN tot"
    "  GROUP BY doc_id),"
    " hist AS (SELECT cross_entropy, count(*) AS hc FROM scored"
    "  GROUP BY cross_entropy),"
    " cum AS (SELECT cross_entropy, sum(hc) OVER (ORDER BY cross_entropy)"
    "  AS cum FROM hist),"
    " nn AS (SELECT count(*) AS n FROM scored),"
    " th AS (SELECT"
    "  min(CASE WHEN cum >= ceil(n * 1 / 3.0) THEN cross_entropy END) AS t1,"
    "  min(CASE WHEN cum >= ceil(n * 2 / 3.0) THEN cross_entropy END) AS t2"
    "  FROM cum CROSS JOIN nn)"
    " SELECT doc_id, cross_entropy,"
    " CAST(CASE WHEN cross_entropy <= t1 THEN 1"
    "  WHEN cross_entropy <= t2 THEN 2 ELSE 3 END AS INT) AS ppl_bucket"
    " FROM scored CROSS JOIN th",
)
def ext_quality_buckets_scale(spark, sf_dir):
    """The 100 TB variant of ext_quality_buckets: head/middle/tail split by
    broadcast THRESHOLD scores instead of an exact global ntile. The bucket
    boundaries derive from a distinct-score histogram (cumulative-count
    rank rule — exact and engine-replayable, no approx_percentile sketch),
    so the only global window runs over O(distinct rounded scores), never
    O(docs); assignment is a broadcast 1-row crossJoin + codegen CASE over
    the scan. Ties at a boundary fold into the lower bucket — threshold
    semantics (CCNet publishes perplexity cutoffs, not per-document
    ranks), which is why this is a sibling key with its own oracle rather
    than a swap-in replacement (operators/text.py:
    quality_buckets_by_threshold)."""
    docs = spread(load_table(spark, "documents", sf_dir)).select("doc_id", "text")
    scored = T.unigram_lm_score(docs).select("doc_id", "cross_entropy")
    return T.quality_buckets_by_threshold(
        scored, score_col="cross_entropy", bucket_col="ppl_bucket", n_buckets=3
    )


@query("ext_cluster_kmeans")  # iterative (Lloyd) algorithm: rows-only check
def ext_cluster_kmeans(spark, sf_dir):
    """K-means clustering of the embedding corpus (deterministic seeds, 2
    Lloyd iterations — the iterative-algorithm family alongside
    connected_components): returns each vector's cluster and the cluster
    sizes are implied. At scale: fit on a sample, broadcast centroids, one
    narrow assignment pass over the corpus (operators/similarity.py)."""
    from incremental_etl_on_lakehouse_spark.operators.similarity import (
        _nearest_centroid,
        fit_ivf_centroids,
    )

    embs = load_table(spark, "embeddings", sf_dir)
    cents = fit_ivf_centroids(embs, k=8, iterations=2)
    assigned = _nearest_centroid(embs, cents, "vec_id", "embedding")
    return assigned.select(
        "vec_id", F.col("centroid_id").cast("long").alias("cluster_id")
    )


@query(
    "ext_cluster_kmeans_planted",
    "SELECT vec_id, CAST(vec_id % 2 AS BIGINT) AS cluster_id FROM embeddings",
)
def ext_cluster_kmeans_planted(spark, sf_dir):
    """K-means with a PLANTED two-blob fixture and a full hash oracle: each
    vec_id is mapped to a synthetic vector in one of two antipodal blobs —
    even ids point along +x (cosine ~ +1 to the blob mean), odd ids along
    -x (cosine ~ -1), with a small y-jitter keeping vectors distinct. The
    deterministic seeding (k smallest ids: vec_id 0 = blob 0, vec_id 1 =
    blob 1) starts one centroid in each blob, Lloyd iterations keep them
    there (the blobs are separated by ~180 degrees, jitter is <0.1 degrees),
    so the final assignment is provably cluster_id = vec_id % 2 — a result
    DuckDB replays in one expression. This closes the rows-only gap for the
    iterative-clustering family: the exact production path (deterministic
    seeds, Lloyd assign/mean iterations, inline-literal centroid
    assignment) runs end-to-end and every output row is hash-verified."""
    from incremental_etl_on_lakehouse_spark.operators.similarity import (
        _nearest_centroid,
        fit_ivf_centroids,
    )

    embs = load_table(spark, "embeddings", sf_dir).select("vec_id")
    sign = (F.lit(1) - F.lit(2) * (F.col("vec_id") % 2)).cast("double")
    jitter = (F.col("vec_id") % 7).cast("double") / F.lit(100.0)
    blobs = embs.select(
        "vec_id",
        F.array(
            (sign * F.lit(10.0)).cast("float"),
            jitter.cast("float"),
            F.lit(0.0).cast("float"),
            F.lit(0.0).cast("float"),
        ).alias("embedding"),
    )
    cents = fit_ivf_centroids(blobs, k=2, iterations=2)
    assigned = _nearest_centroid(blobs, cents, "vec_id", "embedding")
    return assigned.select(
        "vec_id", F.col("centroid_id").cast("long").alias("cluster_id")
    )


@query("ext_semdedup")  # kmeans partition is iterative: rows-only check
def ext_semdedup(spark, sf_dir):
    """SemDeDup semantic deduplication over the real embedding corpus
    (similarity.py: semantic_dedup): k-means partition, within-cluster
    cosine pairs >= 0.95, greedy smallest-id-wins keep rule. Rows-only here
    (the kmeans partition defeats a SQL oracle); ext_semdedup_planted runs
    the IDENTICAL code path on a provable fixture with a full hash oracle.
    Reference has no equivalent; LLM-pipeline extension contract
    (BASELINE.json)."""
    from incremental_etl_on_lakehouse_spark.operators.similarity import (
        semantic_dedup,
    )

    embs = load_table(spark, "embeddings", sf_dir)
    return semantic_dedup(embs, k=8, threshold=0.95).orderBy("vec_id")


@query(
    "ext_semdedup_planted",
    "SELECT vec_id, vec_id < 4 AS kept FROM embeddings ORDER BY vec_id",
)
def ext_semdedup_planted(spark, sf_dir):
    """SemDeDup with a PLANTED fixture and a full hash oracle: the
    two-antipodal-blob construction of ext_cluster_kmeans_planted (blob =
    vec_id % 2, provably the kmeans partition) is extended with a FAMILY
    axis — ids with (vec_id // 2) % 2 == 1 get a z-component as large as
    the blob axis. Within a blob, same-family cosines are ~0.9998 (>= the
    0.95 threshold; only jitter differs) while cross-family cosines are
    ~0.707 (provably below it), so each blob holds exactly two duplicate
    families and the greedy smallest-id rule keeps exactly the 4 ids
    {0,1,2,3} — one per (blob, family). The identical semantic_dedup code
    path (deterministic kmeans seeds -> inline-literal assignment ->
    within-cluster pair join -> anti-join) runs end-to-end, every row
    hash-verified by DuckDB."""
    from incremental_etl_on_lakehouse_spark.operators.similarity import (
        semantic_dedup,
    )

    embs = load_table(spark, "embeddings", sf_dir).select("vec_id")
    sign = (F.lit(1) - F.lit(2) * (F.col("vec_id") % 2)).cast("double")
    family = ((F.col("vec_id") / 2).cast("long") % 2).cast("double")
    jitter = (F.col("vec_id") % 7).cast("double") / F.lit(100.0)
    blobs = embs.select(
        "vec_id",
        F.array(
            (sign * F.lit(10.0)).cast("float"),
            jitter.cast("float"),
            (family * F.lit(10.0)).cast("float"),
            F.lit(0.0).cast("float"),
        ).alias("embedding"),
    )
    return semantic_dedup(blobs, k=2, threshold=0.95).orderBy("vec_id")


@query(
    "q18_big_orders",
    "SELECT c.c_name, o.o_orderkey,"
    " CAST(sum(CAST(l.l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS total_qty"
    " FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey"
    " JOIN lineitem l ON o.o_orderkey = l.l_orderkey"
    " GROUP BY c.c_name, o.o_orderkey"
    " HAVING sum(CAST(l.l_quantity AS DECIMAL(8,2))) > 200",
)
def q18_big_orders(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customers): fact-fact join on the
    orderkey (both sides shuffle on the same key — AQE picks SMJ/broadcast by
    size), grouped agg with a HAVING filter applied post-aggregation."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    qty = F.col("l_quantity").cast("decimal(8,2)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_name", "o_orderkey")
        .agg(F.sum(qty).alias("__tq"))
        .where(F.col("__tq") > 200)
        .select(
            "c_name", "o_orderkey", F.col("__tq").cast("double").alias("total_qty")
        )
    )


@query(
    "agg_collect_list",
    "SELECT user_id, array_to_string("
    "list(event_type ORDER BY ts, event_id), '|') AS event_seq"
    " FROM events GROUP BY user_id",
)
def agg_collect_list(spark, sf_dir):
    """Ordered event-sequence per user (session-path mining input):
    collect_list over a sort_array(struct) keeps the order deterministic —
    Spark's collect_list alone has no ordering guarantee under shuffles.
    The sequence is emitted as a '|'-joined string rather than an array so
    the cross-engine value hash is representation-independent (pandas
    renders Spark arrays as lists but DuckDB LISTs as numpy arrays)."""
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            "|",
        ).alias("event_seq")
    )




@query(
    "ext_bm25_topk",
    # mirrors operators/text.py bm25_topk exactly: per-term contributions
    # fixed to BIGINT micro-units BEFORE the per-doc sum (double summation
    # order is engine-dependent; integer sums are not)
    "WITH toksrc AS (SELECT doc_id,"
    " unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''))"
    "  AS term FROM documents),"
    " dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toksrc"
    "  GROUP BY doc_id),"
    " tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toksrc"
    "  WHERE term IN ('merge', 'stream', 'vector') GROUP BY doc_id, term),"
    " dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),"
    " st AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n,"
    "  CAST(count(*) AS BIGINT) AS toks FROM toksrc),"
    " scored AS (SELECT tf.doc_id,"
    "  CAST(round(ln(1 + (n - df + 0.5) / (df + 0.5)) * (tf * 2.2)"
    "   / (tf + 1.2 * (0.25 + 0.75 * dl / (toks / n))) * 1000000.0)"
    "   AS BIGINT) AS micro"
    "  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st),"
    " agg AS (SELECT doc_id, CAST(sum(micro) AS BIGINT) AS score_micro"
    "  FROM scored GROUP BY doc_id),"
    " ranked AS (SELECT doc_id, score_micro, CAST(row_number() OVER"
    "  (ORDER BY score_micro DESC, doc_id ASC) AS INT) AS rank FROM agg)"
    " SELECT doc_id, score_micro, rank FROM ranked WHERE rank <= 10"
    " ORDER BY rank",
)
def ext_bm25_topk(spark, sf_dir):
    """Top-10 documents by BM25 relevance to a fixed query-term set (the
    lexical retrieval scorer; curation pipelines use it to pull
    topic-related subsets). Contributions are fixed to integer micro-units
    before the per-doc sum, making the score invariant to summation order
    — see operators/text.py: bm25_topk for the scale shape. The result is
    a local relation already in rank order, so it takes no sort."""
    docs = spread(load_table(spark, "documents", sf_dir)).select("doc_id", "text")
    return T.bm25_topk(docs, ["merge", "stream", "vector"], k=10)


@query(
    "pipeline_generic",
    # replay of the generic pipeline's converged Silver in plain SQL:
    # batch1 INSERTs customers <=200, batch2 doubles 1-100 and deletes
    # 151-200; Gold = additive per-segment sum over the survivors
    "WITH survivors AS (SELECT c_mktsegment AS segment,"
    "  CASE WHEN c_custkey <= 100"
    "   THEN 2 * CAST(round(c_acctbal * 100) AS BIGINT)"
    "   ELSE CAST(round(c_acctbal * 100) AS BIGINT) END AS cents"
    " FROM customer WHERE c_custkey <= 150)"
    " SELECT segment, CAST(sum(cents) AS BIGINT) AS sum_cents"
    " FROM survivors GROUP BY segment ORDER BY segment",
)
def pipeline_generic(spark, sf_dir):
    """The GENERIC medallion pipeline (CdcMedallionPipeline) on a schema
    the reference never saw: customer-balance CDC with (custkey) key and a
    per-segment additive Gold. Exercises the full landing -> Bronze ->
    Silver (hash+order-guarded CDC MERGE) -> Gold (change-feed signed
    deltas) machinery with parametrized schema/keys/aggregate; the oracle
    replays the converged state in one SQL query."""
    from incremental_etl_on_lakehouse_spark.pipeline import CdcMedallionPipeline

    cust = (
        load_table(spark, "customer", sf_dir)
        .where(F.col("c_custkey") <= 200)
        .select(
            F.col("c_custkey").cast("long").alias("custkey"),
            F.col("c_mktsegment").alias("segment"),
            F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        )
        .collect()  # <=200 dimension rows: fixture-build scale
    )
    root = _tmpdir()
    landing = os.path.join(root, "landing")
    os.makedirs(landing, exist_ok=True)
    rec = lambda r, cents, op, ts: {
        "custkey": r["custkey"], "segment": r["segment"], "cents": cents,
        "cdc_operation": op, "cdc_timestamp": ts,
    }
    with open(os.path.join(landing, "b1.json"), "w") as f:
        json.dump(
            [rec(r, r["cents"], "INSERT", "2024-01-01 10:00:00") for r in cust], f
        )
    with open(os.path.join(landing, "b2.json"), "w") as f:
        # NDJSON on purpose: the generic pipeline's auto-format ingest
        batch2 = [
            rec(r, 2 * r["cents"], "UPDATE", "2024-01-02 10:00:00")
            for r in cust
            if r["custkey"] <= 100
        ] + [
            rec(r, r["cents"], "DELETE", "2024-01-02 10:00:00")
            for r in cust
            if r["custkey"] > 150
        ]
        f.write("\n".join(json.dumps(x) for x in batch2))
    log_schema = StructType(
        [
            StructField("custkey", LongType()),
            StructField("segment", StringType()),
            StructField("cents", LongType()),
            StructField("cdc_operation", StringType()),
            StructField("cdc_timestamp", TimestampType()),
        ]
    )
    p = CdcMedallionPipeline(
        spark,
        os.path.join(root, "lake"),
        landing,
        log_schema=log_schema,
        key_cols=["custkey"],
        gold_group_cols=["segment"],
        gold_value_col="cents",
        gold_agg_col="sum_cents",
    )
    p.run_available()
    return (
        p.gold.to_df()
        .where(F.col("sum_cents") != 0)
        .orderBy("segment")
    )


@query(
    "ext_corpus_report",
    # integer-exact mirror: rank-based lower median (element at ceil(n/2)
    # when ordered by (tokens, fingerprint)), exact-dup count via distinct
    # normalized-text fingerprints
    "WITH per_doc AS (SELECT lang,"
    "  CASE WHEN text IS NULL THEN 0"
    "   ELSE CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),"
    "    x -> x <> '')) AS BIGINT) END AS n_tokens,"
    "  coalesce(md5(trim(regexp_replace(regexp_replace(lower(text),"
    "   '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))), '__null__') AS fp"
    "  FROM documents),"
    " base AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,"
    "  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,"
    "  CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_exact_dups"
    "  FROM per_doc GROUP BY lang),"
    " ranked AS (SELECT lang, n_tokens,"
    "  row_number() OVER (PARTITION BY lang ORDER BY n_tokens, fp) AS rn"
    "  FROM per_doc),"
    " med AS (SELECT r.lang, r.n_tokens AS median_tokens FROM ranked r"
    "  JOIN base b ON r.lang = b.lang"
    "  WHERE r.rn = CAST(floor((b.n_docs + 1) / 2) AS BIGINT))"
    " SELECT b.lang, b.n_docs, b.total_tokens, m.median_tokens,"
    "  b.n_exact_dups"
    " FROM base b JOIN med m ON b.lang = m.lang ORDER BY b.lang",
)
def ext_corpus_report(spark, sf_dir):
    """Per-language corpus report card (doc counts, token volume,
    rank-based token median, exact-dup count) — the first query a
    curation pipeline runs on a new crawl; every output integer-exact so
    the report is bit-identical across engines (operators/text.py:
    corpus_report for the scale shape)."""
    docs = spread(load_table(spark, "documents", sf_dir)).select(
        "doc_id", "text", "lang"
    )
    return T.corpus_report(docs).orderBy("lang")


@query(
    "pipeline_expectations",
    # survivors per segment after the drop rule + the audit counts the
    # expectations table recorded for the batch
    "WITH src AS (SELECT c_mktsegment AS segment,"
    "  CAST(round(c_acctbal * 100) AS BIGINT) AS cents"
    "  FROM customer WHERE c_custkey <= 100),"
    " st AS (SELECT CAST(count(*) FILTER (WHERE cents >= 0) AS BIGINT) AS n_pass,"
    "  CAST(count(*) FILTER (WHERE cents < 0) AS BIGINT) AS n_fail FROM src)"
    " SELECT segment, CAST(count(*) AS BIGINT) AS n_rows,"
    "  (SELECT n_pass FROM st) AS n_pass, (SELECT n_fail FROM st) AS n_fail"
    " FROM src WHERE cents >= 0 GROUP BY segment ORDER BY segment",
)
def pipeline_expectations(spark, sf_dir):
    """DLT-style expectations on the generic pipeline: a ``drop`` rule
    (cents >= 0) excludes violating rows from Silver and records per-batch
    pass/fail counts in the _expectations audit table (txn-guarded, so
    replays never double-count); ``fail`` aborts before any write and
    ``warn`` only counts (tests/test_generic_pipeline.py covers those)."""
    from incremental_etl_on_lakehouse_spark.pipeline import CdcMedallionPipeline

    cust = (
        load_table(spark, "customer", sf_dir)
        .where(F.col("c_custkey") <= 100)
        .select(
            F.col("c_custkey").cast("long").alias("custkey"),
            F.col("c_mktsegment").alias("segment"),
            F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        )
        .collect()  # <=100 dimension rows: fixture-build scale
    )
    root = _tmpdir()
    landing = os.path.join(root, "landing")
    os.makedirs(landing, exist_ok=True)
    with open(os.path.join(landing, "b1.json"), "w") as f:
        f.write(
            "\n".join(
                json.dumps(
                    {
                        "custkey": r["custkey"],
                        "segment": r["segment"],
                        "cents": r["cents"],
                        "cdc_operation": "INSERT",
                        "cdc_timestamp": "2024-01-01 10:00:00",
                    }
                )
                for r in cust
            )
        )
    p = CdcMedallionPipeline(
        spark,
        os.path.join(root, "lake"),
        landing,
        log_schema=StructType(
            [
                StructField("custkey", LongType()),
                StructField("segment", StringType()),
                StructField("cents", LongType()),
                StructField("cdc_operation", StringType()),
                StructField("cdc_timestamp", TimestampType()),
            ]
        ),
        key_cols=["custkey"],
        expectations={"nonneg_balance": ("cents >= 0", "drop")},
    )
    p.run_available()
    audit = p.expectations_table.to_df().agg(
        F.sum("n_pass").alias("n_pass"), F.sum("n_fail").alias("n_fail")
    )
    return (
        p.silver.to_df()
        .groupBy("segment")
        .agg(F.count("*").alias("n_rows"))
        .crossJoin(F.broadcast(audit))
        .orderBy("segment")
    )
