"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Everything is deterministic (hash-seeded, no RNG state) and expressed with
built-in Catalyst functions — ``xxhash64`` for hashing, higher-order array
functions for signatures — so the whole signature computation is one narrow
JVM-side projection. The only shuffles are the ones the algorithms require:
a groupBy on (band, hash) for LSH bucketing and the candidate-pair join.

Scale notes (100 TB):
- Exact dedup is a hash-partitioned groupBy on the content hash: one shuffle,
  map-side partial aggregation, no skew (hashes are uniform).
- MinHash/LSH never compares all pairs: shuffle keys are (band_index,
  band_hash); bucket sizes are bounded by near-dup cluster sizes. A hot
  bucket (giant dup cluster) is itself the answer, not a skew accident.
- SimHash bucket key is the 16-bit prefix blocks of the 64-bit signature
  (Hamming-distance blocking).
- Embedding near-dup buckets by random-hyperplane sign bits (deterministic
  hyperplanes derived from xxhash64), then verifies cosine within buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from incremental_etl_on_lakehouse_spark.functions import cosine_similarity
from incremental_etl_on_lakehouse_spark.operators import spread
from incremental_etl_on_lakehouse_spark.operators.text import (
    normalize_text,
    shingles,
    ws_tokens,
)

# ------------------------------------------------------------------ exact


def dedup_exact(
    df: DataFrame, content_cols: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative row (min id) per exact content hash.

    Generalizes the reference's ``data_hash`` content hashing + latest-wins
    window (``notebooks/demo-notebook.py:168,262-266``) to arbitrary content
    columns. One shuffle on the 64-bit content hash.
    """
    h = F.xxhash64(*[F.col(c) for c in content_cols])
    keep = (
        df.withColumn("__h", h)
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# ------------------------------------------------------------------ MinHash


def minhash_signature(col: Column, num_hashes: int = 64, shingle_k: int = 3) -> Column:
    """MinHash signature as a single column expression (array<bigint>).

    NOTE: only suitable for small inputs / literals — Catalyst re-inlines the
    shingle sub-expression into every hash lambda after projection collapse,
    so the shingling regexes run ``num_hashes`` times per row. Use
    :func:`minhash_signatures` (explode + groupBy) for datasets.
    """
    sh = shingles(col, shingle_k)
    seeds = F.sequence(F.lit(1), F.lit(num_hashes))
    return F.transform(
        seeds,
        lambda s: F.array_min(
            F.transform(sh, lambda t: F.xxhash64(F.xxhash64(t), s))
        ),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash signatures as (id, sig array<bigint>), computed scan-once.

    Shape: project shingles once -> explode (narrow) -> ONE hash-partitioned
    groupBy on the doc id with ``num_hashes`` unrolled ``min(xxhash64(s,
    seed_i))`` aggregates (map-side partial agg) -> assemble the array.
    This avoids Catalyst's projection-collapse re-inlining, which would
    otherwise re-run the shingling regexes once per hash per row.
    """
    base = spread(df).select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), shingle_k).alias("sh")
    )
    # hash the variable-length shingle string ONCE to a long, then derive the
    # per-seed hash family from (long, seed) — fixed-width re-hashes are
    # ~25% cheaper than hashing the string num_hashes times per row
    tok = base.select("id", F.explode("sh").alias("s")).select(
        "id", F.xxhash64("s").alias("s64")
    )
    aggs = [
        F.min(F.xxhash64(F.col("s64"), F.lit(i + 1))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sigs = tok.groupBy("id").agg(*aggs)
    return sigs.select(
        "id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def _band_buckets(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, sig) -> (id, sig, band, bucket): one bucket hash per signature
    band, exploded. Narrow (no shuffle); the bucket hash is what every LSH
    consumer shuffles or joins on."""
    rows_per_band = num_hashes // bands
    return (
        sig.select(
            "id",
            "sig",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                F.transform(
                                    F.slice(
                                        F.col("sig"),
                                        b * rows_per_band + 1,
                                        rows_per_band,
                                    ),
                                    lambda x: x.cast("string"),
                                ),
                            )
                        ).alias("bucket"),
                    ),
                )
            ).alias("bb"),
        )
        .select(
            "id",
            "sig",
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )
    )


def minhash_band_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """The PERSISTED form of a corpus's LSH state: (id, band, bucket) rows
    — what an incremental pipeline appends to its signature store so the
    next batch can dedup against all of history WITHOUT re-scanning or
    re-hashing the historical text. Signatures are dropped: candidate
    verification re-reads only the candidate pair's text (point lookups),
    keeping the store at 8-byte bucket keys x bands per document."""
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k)
    return _band_buckets(sig, num_hashes, bands).select("id", "band", "bucket")


def incremental_dedup_candidates(
    new_buckets: DataFrame, store: DataFrame
) -> DataFrame:
    """(new_id, old_id) candidate pairs: new batch's band table joined
    against the persisted store on (band, bucket). The join shuffles on
    uniform 8-byte bucket hashes and touches only colliding buckets of the
    historical store — the increment never re-reads historical text."""
    n = new_buckets.select(
        F.col("id").alias("new_id"), "band", "bucket"
    )
    s = store.select(F.col("id").alias("old_id"), "band", "bucket")
    return (
        n.join(s, ["band", "bucket"])
        .select("new_id", "old_id")
        .dropDuplicates(["new_id", "old_id"])
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.7,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding, verified with estimated
    Jaccard (fraction of equal MinHash components).

    Returns (id_a, id_b, jaccard_sim) with id_a < id_b. The band groupBy is
    the only wide operation; the pair join happens inside buckets.

    Scale discipline (round 8, same as :func:`ngram_jaccard_pairs`): the
    band self-join exchanges ONLY (id, band, bucket) — the 64-element
    signature arrays are re-attached per DEDUPLICATED candidate pair for
    the estimate. Carrying the arrays through the banding shipped
    ~num_hashes x 8 bytes x bands per doc across the wide exchange; the
    re-attach joins ship each signature once per pair role, and the
    signature aggregation's exchange is REUSED across the three
    consumers (Spark's ReusedExchange — the text is scanned and the
    shingle/minhash partial work done once).
    """
    # CHECKPOINTED: the signature table feeds FOUR subtrees of the returned
    # plan (both sides of the band self-join and both signature re-attach
    # joins), and the broadcast exchanges the planner picks for the
    # re-attaches defeat ReusedExchange — the measured plan ran the whole
    # scan -> shingle -> 64-hash pipeline four times. The checkpoint is
    # O(docs x num_hashes x 8 B), tiny next to the text. A lazy LOCAL
    # checkpoint, not persist(): the returned frame owns it and Spark's
    # ContextCleaner drops it with that frame, while a persisted plan stays
    # in the session's CacheManager until something unpersists it.
    sig = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_k
    ).localCheckpoint(eager=False)
    banded = _band_buckets(sig, num_hashes, bands).select("id", "band", "bucket")
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = cand.join(
        sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")),
        "id_a",
    ).join(
        sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")),
        "id_b",
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(float(num_hashes))
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.round(est, 6).alias("jaccard_sim"),
    ).where(F.col("jaccard_sim") >= jaccard_threshold)


def dedup_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """Drop near-duplicates: for each similar pair keep the smaller id.

    Connected-component-lite: a row is dropped if it is the larger id of any
    qualifying pair (greedy representative selection — the standard
    single-pass choice at scale; full connected components would iterate).
    """
    pairs = minhash_lsh_pairs(df, text_col, id_col, **kwargs)
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop, id_col, "left_anti")


# ------------------------------------------------------------------ SimHash


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per document, as (id, sig bigint).

    For each bit b: sum over tokens of (+1 if bit b of xxhash64(token) is set
    else -1); bit b of the signature is 1 iff the sum is positive. Shape:
    explode tokens (narrow) -> one hash-partitioned groupBy on the doc id with
    64 unrolled SUM aggregates (map-side partial agg) -> bit-pack. This is the
    scan-once, shuffle-once layout; bit positions are unrolled in Python
    because shift amounts must be literals in Catalyst.
    """
    toks = spread(df).select(
        F.col(id_col).alias("id"),
        F.explode_outer(ws_tokens(F.col(text_col))).alias("tok"),
    )
    h = F.xxhash64("tok")
    aggs = []
    for b in range(64):
        bit = F.shiftright(h, b).bitwiseAND(F.lit(1))
        contrib = F.when(F.col("tok").isNull(), 0).otherwise(
            F.when(bit == 1, 1).otherwise(-1)
        )
        aggs.append(F.sum(contrib).alias(f"c{b}"))
    counts = toks.groupBy("id").agg(*aggs)
    sig = None
    for b in range(64):
        bitval = (
            F.when(F.col(f"c{b}") > 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
        )
        term = F.shiftleft(bitval, b)
        sig = term if sig is None else sig.bitwiseOR(term)
    return counts.select("id", sig.alias("sig"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked on 16-bit chunks.

    Pigeonhole: two signatures within Hamming distance 3 share at least one
    of four 16-bit blocks exactly; bucket on (block_index, block_value) and
    verify the full distance with bit_count(xor).
    """
    # checkpointed: both sides of the block self-join consume the signature
    # table, and without it the scan -> tokenize -> 64-sum pipeline runs
    # twice (same finding as minhash_lsh_pairs). O(docs x 16 B).
    sig = simhash_signatures(df, text_col, id_col).localCheckpoint(eager=False)
    blocks = [
        F.struct(
            F.lit(i).alias("blk"),
            F.shiftright(F.col("sig"), i * 16).bitwiseAND(F.lit(65535)).alias("val"),
        )
        for i in range(4)
    ]
    blocked = sig.select(
        "id", "sig", F.explode(F.array(*blocks)).alias("bb")
    ).select("id", "sig", "bb.blk", "bb.val")
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .where(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------- n-gram Jaccard


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    bands: int = 12,
    rows_per_band: int = 2,
) -> DataFrame:
    """Exact Jaccard over word k-shingles, restricted to LSH candidates.

    The exact pairwise Jaccard is O(n^2); candidates are first narrowed with
    a MinHash banding pass (short bands -> high recall at the target
    threshold: P(candidate) = 1-(1-s^r)^b), then the *exact* similarity is
    computed by intersecting the two rows' shingle sets
    (array_intersect/array_union — JVM-side set ops).

    Scale discipline: the band self-join exchanges carry ONLY (id, band,
    bucket) — 8-byte columns — never the shingle arrays; the arrays are
    re-attached per surviving candidate id afterwards. Carrying them
    through the banding would ship raw-text-derived payload x bands
    across the wide exchange (the one place the repo's hash-keyed-
    exchange discipline wasn't applied before round 8); the re-attach
    joins ship each doc's shingles once per pair role instead.
    """
    # checkpointed: both band-join sides consume the signatures (see
    # minhash_lsh_pairs). The shingle re-attach below deliberately stays
    # UNcached: it is corpus-sized (text-derived arrays), and recomputing
    # it for the two pair roles beats spilling it at 100 TB.
    sigs = minhash_signatures(
        df, text_col, id_col, bands * rows_per_band, shingle_k
    ).localCheckpoint(eager=False)
    banded = sigs.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bnd: F.struct(
                    bnd.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), bnd * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sh = df.select(
        F.col(id_col).alias("id"),
        shingles(F.col(text_col), shingle_k).alias("sh"),
    )
    pairs = cand.join(
        sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return pairs.select(
        "id_a",
        "id_b",
        F.round(inter / union, 6).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


# ------------------------------------------------------- embedding near-dup


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cosine_threshold: float = 0.95,
    planes: int = 16,
    probe_flips: int = 0,
) -> DataFrame:
    """Embedding near-duplicates: random-hyperplane LSH bucket + cosine verify.

    Hyperplane h_j components are deterministic pseudo-random in [-1,1]:
    (xxhash64(dim, j) % 2001 - 1000) / 1000. Bucket key = sign-bit string of
    all planes; only same-bucket pairs get the exact cosine check.
    """
    dims = F.size(F.col(vec_col))
    plane_dot = lambda j: F.aggregate(  # noqa: E731
        F.zip_with(
            F.col(vec_col),
            F.transform(
                F.sequence(F.lit(0), dims - 1),
                lambda d: ((F.xxhash64(d, F.lit(j)) % 2001 + 2001) % 2001 - 1000) / 1000.0,
            ),
            lambda x, h: x.cast("double") * h,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    bucket = F.concat_ws(
        "", *[F.when(plane_dot(j) >= 0, "1").otherwise("0") for j in range(planes)]
    )
    keyed = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), bucket.alias("bucket")
    )
    probe = keyed
    if probe_flips > 0:
        # multi-probe: ONE side additionally probes the buckets reachable
        # by flipping each of the first `probe_flips` sign bits — pairs
        # straddling a hyperplane boundary land in adjacent buckets, and
        # single-bit flips recover them at probe_flips x extra candidate
        # volume (the other side stays exact, so no duplicate pairs beyond
        # the distinct-bucket dedup below)
        def _flip(col, j):
            head = F.substring(col, 1, j)
            bit = F.when(F.substring(col, j + 1, 1) == "1", "0").otherwise("1")
            tail = F.substring(col, j + 2, planes)
            return F.concat(head, bit, tail)

        variants = F.array(
            F.col("bucket"),
            *[_flip(F.col("bucket"), j) for j in range(min(probe_flips, planes))],
        )
        probe = keyed.select(
            "id", "v", F.explode(variants).alias("bucket")
        )
    a, b = probe.alias("a"), keyed.alias("b")
    sim = cosine_similarity(F.col("a.v"), F.col("b.v"))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(sim, 6).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= cosine_threshold)
        .distinct()
    )


# -------------------------------------------------- connected components


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components of an undirected graph: (id, component) where
    component = the minimum node id reachable from ``id``.

    This is the transitive-closure step of fuzzy dedup at scale: near-dup
    PAIRS (minhash/simhash/embedding buckets) over-fragment without it — doc
    A~B and B~C must collapse to ONE cluster {A,B,C} even when A!~C.

    Algorithm: iterative min-label propagation (the standard large-graph
    formulation, e.g. GraphX/GraphFrames): every node starts labeled with
    itself; each round every node takes the min label among itself and its
    neighbors; stop when no label changes. Rounds = graph diameter (near-dup
    graphs are shallow — dup clusters are dense, diameters of 2-4). Each
    round is one join + one groupBy on the node id; ``localCheckpoint``
    truncates the growing lineage so round N doesn't replan rounds 1..N-1.
    """
    from pyspark.sql import functions as F

    sym = edges.select(
        F.col(src_col).cast("long").alias("s"), F.col(dst_col).cast("long").alias("d")
    )
    sym = sym.union(sym.select(F.col("d").alias("s"), F.col("s").alias("d")))
    nodes = sym.select(F.col("s").alias("id")).distinct()
    labels = nodes.select("id", F.col("id").alias("comp")).localCheckpoint()
    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.s == labels.id)
            .groupBy(F.col("d").alias("id"))
            .agg(F.min("comp").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, "id", "left_outer")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))).alias(
                    "comp"
                ),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # exhausting the budget without a fixpoint means the labels are
        # WRONG (one true component reported as several) — surface it
        # rather than silently under-deduplicating; near-dup graphs have
        # tiny diameters, so hitting this means max_iterations is
        # mis-sized for the graph, not a normal outcome
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations; raise max_iterations (diameter exceeds the budget)"
        )
    return labels.select(F.col("id"), F.col("comp").alias("component"))


def substring_dup_stats(
    df: DataFrame, k: int = 12, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Cross-document duplicate-substring detection (the Lee et al. 2022
    "Deduplicating Training Data" signal, at token-k-gram granularity):
    for each document, count its distinct k-token grams that also occur in
    ANOTHER document. Verbatim shared passages — licenses, templates,
    syndicated text — light up here even when whole-line or whole-doc
    dedup misses them.

    Output: (id, n_grams, n_dup_grams, flagged).

    Scale shape: grams are distinct-per-doc BEFORE the shuffle, so the
    occurrence count per gram equals its document frequency with ONE
    count(*) aggregation (no count-distinct double shuffle). The gram
    shuffle keys on xxhash64(gram) — 8-byte keys instead of ~100-byte
    strings (same discipline as the line-dedup operator); the doc-level
    rollup is a second uniform shuffle. Quadratic nowhere.
    """
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != "")

    def build(t: Column) -> Column:
        n = F.size(t)
        return F.when(n < k, F.array().cast("array<string>")).otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), n - k),
                    lambda i: F.concat_ws(" ", F.slice(t, i + 1, k)),
                )
            )
        )

    grams = df.select(
        F.col(id_col),
        F.element_at(F.transform(F.array(toks), build), 1).alias("__gs"),
    )
    exploded = grams.select(
        id_col, F.explode(F.transform("__gs", lambda g: F.xxhash64(g))).alias("__gh")
    )
    dup = (
        exploded.groupBy("__gh")
        .agg(F.count("*").alias("__nd"))
        .where(F.col("__nd") >= 2)
        .select("__gh")
    )
    per_doc = (
        exploded.join(dup, "__gh", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_dup_grams"))
    )
    return (
        grams.join(per_doc, id_col, "left_outer")
        .select(
            id_col,
            F.size("__gs").cast("long").alias("n_grams"),
            F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("long").alias(
                "n_dup_grams"
            ),
            (F.coalesce(F.col("n_dup_grams"), F.lit(0)) > 0).alias("flagged"),
        )
    )
