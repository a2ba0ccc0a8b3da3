"""The benchmark's workloads, driven only through the engine's public API.

Every workload is a closed loop with one client: the next input lands only
after the previous batch's final commit. A batch's inputs are generated
before its clock starts; the clock starts when the landing file has been
renamed into place and stops at the batch's final commit. After the commit
the workload times its reads, then checks outputs against the generator's
oracle (checks are never timed).
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass

import probe
from gen import CdcStream, CorpusStream, bm25_oracle, gold_matches, land

# id-range lookups after each timed batch (one after a warm-up batch): a
# lookup takes ~0.1 s, so a median over three a batch costs little and
# holds steadier than one over the few batches of a window
LOOKUPS = 3

# set-ups per run; each builds the workload's tables from scratch
SETUPS = 3


@dataclass
class Batch:
    index: int
    records: int
    latency_s: float
    read_s: list[float]
    lookup_s: list[float]
    ok: bool
    traced: bool
    driver_cpu_s: float = 0.0
    jvm_cpu_s: float = 0.0
    py4j_calls: int = 0
    jobs: tuple[int, int, int] = (0, 0, 0)


class Run:
    """One process's run: the session, the clock, the counters and the
    per-batch records. ``trace`` turns on the alternating traced batches."""

    def __init__(self, spark, work: str, seed: int, seconds: float, warmup: int, trace: bool):
        from spans import Tracer

        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.warmup = warmup
        self.trace = trace
        self.tracer = Tracer()
        self.py4j = probe.Py4jCounter() if trace else None
        self.jvm_pid = next(
            p for p in probe.process_tree() if _comm(p) == "java"
        )
        self.batches: list[Batch] = []
        self.setups_s: list[float] = []
        self.first_timed_s = 0.0
        self.marks = {"session_s": _process_age()}
        self.failed_checks: list[str] = []
        self.final_checks = 0

    def traced(self, i: int) -> bool:
        """Timed batches alternate traced / untraced in a traced run."""
        return self.trace and i >= self.warmup and (i - self.warmup) % 2 == 0

    def loop(self, step, max_batches: int | None = None) -> None:
        """Run ``step(i)`` for the warm-up prefix, then until ``seconds`` of
        timed batches have passed (or ``max_batches`` in curve mode). A step
        that raises ends the loop and counts as a failed batch."""
        window_start = None
        i = 0
        while True:
            if i == self.warmup:
                self.first_timed_s = _process_age()
                window_start = time.perf_counter()
            try:
                self.batches.append(step(i))
            except Exception:
                traceback.print_exc(file=sys.stderr)
                self._untrace()
                self.batches.append(Batch(i, 0, 0.0, [], [], False, False))
                return
            i += 1
            if max_batches is not None:
                if i >= max_batches:
                    return
            elif window_start is not None and time.perf_counter() - window_start >= self.seconds:
                return

    def set_up(self, make):
        """Run the workload's set-up ``make(k)`` ``SETUPS`` times, each into
        fresh tables; ``make`` returns what it built and the seconds its own
        clock measured. Returns what the last one built. The first set-up
        also pays for the cold JVM; the reported set-up time is the
        median."""
        for k in range(SETUPS):
            out, secs = make(k)
            self.setups_s.append(secs)
        self.marks["setups_done_s"] = _process_age()
        return out

    def observe(self, i: int, commit):
        """Run ``commit()`` (landing -> final commit) under the per-batch
        counters; returns a partly filled record and what ``commit()``
        returned. A traced batch stays traced through its reads, until
        ``end_batch``."""
        traced = self.traced(i)
        sc = self.spark.sparkContext
        if traced:
            self.tracer.batch = i
            self.tracer.install()
            self.py4j.install()
            sc.setJobGroup(f"b{i}", "batch")
        c0, j0 = time.process_time(), probe.cpu_seconds(self.jvm_pid)
        n0 = self.py4j.calls if traced else 0
        t0 = time.perf_counter()
        with self.tracer.span("batch"):
            out = commit()
        lat = time.perf_counter() - t0
        rec = Batch(
            i, 0, lat, [], [], True, traced,
            driver_cpu_s=time.process_time() - c0,
            jvm_cpu_s=probe.cpu_seconds(self.jvm_pid) - j0,
        )
        if traced:
            rec.py4j_calls = self.py4j.calls - n0
            sc.setJobGroup(f"r{i}", "reads")
        return rec, out

    def end_batch(self, rec: Batch) -> None:
        if rec.traced:
            self._untrace()
            rec.jobs = probe.job_counts(self.spark.sparkContext, f"b{rec.index}")

    def _untrace(self) -> None:
        if self.trace:
            self.py4j.uninstall()
            self.tracer.uninstall()

    def timed(self, name: str, fn):
        with self.tracer.span(name):
            t0 = time.perf_counter()
            out = fn()
            return time.perf_counter() - t0, out

    def check(self, ok: bool, what: str) -> bool:
        self.final_checks += 1
        if not ok:
            self.failed_checks.append(what)
            print(f"check failed: {what}", file=sys.stderr)
        return ok


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return up - start_ticks / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- CDC


def cdc(run: Run, preload: int, batch_size: int, max_batches: int | None = None) -> dict:
    """The paper's MedallionPipeline: landing JSON -> Bronze -> Silver MERGE
    -> Gold from Silver's change feed. Silver is preloaded through the
    pipeline itself. After each Gold commit: one Gold snapshot read and
    one Silver id-range lookup, both checked against the replay."""
    from incremental_etl_on_lakehouse_spark.pipeline import MedallionPipeline

    stream = CdcStream(run.seed, batch_size)
    staging = os.path.join(run.work, "staging")
    preload_lines = stream.preload(preload)

    def make(k: int):
        """Set-up: a fresh pipeline (its tables), and the preload landed
        and run through it to Gold. The landing file is written before
        the clock starts."""
        if k:
            shutil.rmtree(os.path.join(run.work, f"setup{k - 1}"))
        lake = os.path.join(run.work, f"setup{k}", "lake")
        landing = os.path.join(run.work, f"setup{k}", "landing")
        os.makedirs(landing)
        land(preload_lines, staging, landing, "b_preload.json")
        t0 = time.perf_counter()
        p = MedallionPipeline(run.spark, lake, landing)
        p.run_available()
        return (p, lake, landing), time.perf_counter() - t0

    p, lake, landing = run.set_up(make)
    silver_v0 = None

    def step(i: int) -> Batch:
        nonlocal silver_v0
        lines = stream.next_batch()
        want_gold = stream.expected_gold()
        ranges = [stream.lookup_range(100) for _ in range(LOOKUPS if i >= run.warmup else 1)]
        want_rows = [stream.expected_range(lo, hi) for lo, hi in ranges]
        if i == run.warmup:
            silver_v0 = p.silver.version()
        land(lines, staging, landing, f"b{i:06d}.json")
        rec, _ = run.observe(i, p.run_available)
        rec.records = len(lines)
        t, gold = run.timed("read", lambda: p.gold.to_df().collect())
        rec.read_s.append(t)
        looked = []
        for lo, hi in ranges:
            t, rows = run.timed(
                "lookup",
                lambda: p.silver.to_df()
                .where(f"id >= {lo} AND id < {hi}")
                .select("id", "country", "district", "num_visitors")
                .collect(),
            )
            rec.lookup_s.append(t)
            looked.append({r["id"]: (r["country"], r["district"], r["num_visitors"]) for r in rows})
        run.end_batch(rec)
        rec.ok = gold_matches({r["country"]: r["sum_visitors"] for r in gold}, want_gold) and looked == want_rows
        return rec

    run.loop(step, max_batches)
    silver = {
        r["id"]: (r["country"], r["district"], r["num_visitors"])
        for r in p.silver.to_df()
        .select("id", "country", "district", "num_visitors")
        .collect()
    }
    run.check(silver == stream.live, "final Silver equals the replay")
    gold = {r["country"]: r["sum_visitors"] for r in p.gold.to_df().collect()}
    run.check(gold_matches(gold, stream.expected_gold()), "final Gold equals the replay")
    merges = probe.merge_rows(p.silver, silver_v0 if silver_v0 is not None else -1)
    files, nbytes = probe.layout(p.silver)
    return {
        "rows_written": sum(w for w, _ in merges),
        "rows_changed": sum(c for _, c in merges),
        "merge_ratios": [w / c for w, c in merges if c],
        "silver_files": files,
        "silver_bytes": nbytes,
        "log_bytes": probe.dir_bytes(lake, "_lake_log"),
    }


# ---------------------------------------------------------------- corpus

DOC_SCHEMA = "doc_id bigint, text string"
NEAR_DUP_JACCARD = 0.8


def corpus(run: Run, batch_size: int, max_batches: int | None = None) -> dict:
    """Incremental corpus curation over the LLM-data operators: score and
    language-tag each new batch, drop exact duplicates inside the batch,
    then drop documents whose MinHash bands collide with the band store and
    whose word-shingle Jaccard with the stored document is at least 0.8.
    Survivors and their bands are appended (no MERGE, no change feed); one
    BM25 search over the curated table follows each batch."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from incremental_etl_on_lakehouse_spark.lake import LakeTable
    from incremental_etl_on_lakehouse_spark.operators import dedup, text
    from incremental_etl_on_lakehouse_spark.sources import json_source

    spark, tracer = run.spark, run.tracer
    stream = CorpusStream(run.seed, batch_size)
    staging = os.path.join(run.work, "staging")
    schema = StructType.fromDDL(DOC_SCHEMA)
    curated = store = None
    counts = {"candidates": 0, "dups": 0}

    def jaccard(a, b):
        return F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))

    def curate(path: str, traced: bool) -> tuple[int, int]:
        """One batch, landing file -> final commit; returns (candidate
        pairs, confirmed duplicates). The batch runs three actions: the
        candidate collect and the two appends. ``shared`` frames feed more
        than one of them and are persisted in every batch, so they are
        computed once. A traced batch also persists the other frames and
        counts each frame inside its operator's span, so that each
        operator is timed at an action that consumes it; those extra
        actions are part of the tracing overhead."""
        frames = []

        def stage(name: str, df, shared: bool = False):
            if shared or traced:
                df = df.persist()
                frames.append(df)
            if traced:
                with tracer.span(name):
                    df.count()
            return df

        try:
            docs = stage(
                "sources.read_json.action",
                json_source.read_json_auto_batch(spark, [path], schema),
            )
            langs = text.language_id(docs).select("doc_id", "lang_guess")
            scored = stage("operators.text.score", text.quality_score(docs).join(langs, "doc_id"))
            exact = stage("operators.dedup.exact", dedup.dedup_exact(docs, ["text"]), shared=True)
            bands = stage("operators.dedup.bands", dedup.minhash_band_table(exact), shared=True)
            with tracer.span("operators.dedup.candidates"):
                pairs = (
                    dedup.incremental_dedup_candidates(bands, store.to_df())
                    .join(exact.select(F.col("doc_id").alias("new_id"), F.col("text").alias("a")), "new_id")
                    .join(curated.to_df().select(F.col("doc_id").alias("old_id"), F.col("text").alias("b")), "old_id")
                    .select("new_id", jaccard(text.shingles(F.col("a")), text.shingles(F.col("b"))).alias("j"))
                    .collect()
                )
            dups = sorted({r["new_id"] for r in pairs if r["j"] >= NEAR_DUP_JACCARD})
            keep = exact.select("doc_id", "text")
            kept_bands = bands
            if dups:
                keep = keep.where(~F.col("doc_id").isin(dups))
                kept_bands = bands.where(~F.col("id").isin(dups))
            store.append(kept_bands)
            curated.append(keep.join(scored.select("doc_id", "quality_score", "lang_guess"), "doc_id"))
            return len(pairs), len(dups)
        finally:
            for df in frames:
                df.unpersist()

    seed_lines = stream.next_batch()

    def make(k: int):
        """Set-up: fresh curated and band-store tables, and a first batch
        of documents curated into them. The landing file is written before
        the clock starts."""
        nonlocal curated, store
        if k:
            shutil.rmtree(os.path.join(run.work, f"setup{k - 1}"))
        root = os.path.join(run.work, f"setup{k}")
        landing = os.path.join(root, "landing")
        os.makedirs(landing)
        path = land(seed_lines, staging, landing, "d_seed.json")
        t0 = time.perf_counter()
        curated = LakeTable.create(
            spark,
            os.path.join(root, "lake", "curated"),
            StructType.fromDDL("doc_id bigint, text string, quality_score double, lang_guess string"),
        )
        store = LakeTable.create(
            spark, os.path.join(root, "lake", "bands"), StructType.fromDDL("id bigint, band int, bucket bigint")
        )
        curate(path, False)
        return (root, landing), time.perf_counter() - t0

    root, landing = run.set_up(make)
    last_search = []

    def step(i: int) -> Batch:
        lines = stream.next_batch()
        ranges = [stream.lookup_range(200) for _ in range(LOOKUPS if i >= run.warmup else 1)]
        path = land(lines, staging, landing, f"d{i:06d}.json")
        rec, (n_pairs, n_dups) = run.observe(i, lambda: curate(path, run.traced(i)))
        if i >= run.warmup:
            counts["candidates"] += n_pairs
            counts["dups"] += n_dups
        rec.records = len(lines)

        def search():
            top = text.bm25_topk(curated.to_df(), stream.query_terms, k=10).collect()
            # bm25_topk persists intermediates it cannot release itself
            spark.catalog.clearCache()
            return top

        t, top = run.timed("operators.text.bm25", search)
        rec.read_s.append(t)
        looked = []
        for lo, hi in ranges:
            t, rows = run.timed(
                "lookup",
                lambda: curated.to_df()
                .where(f"doc_id >= {lo} AND doc_id < {hi}")
                .select("doc_id")
                .collect(),
            )
            rec.lookup_s.append(t)
            looked.append(stream.check_range(lo, hi, {r["doc_id"] for r in rows}))
        run.end_batch(rec)
        last_search[:] = [(r["doc_id"], r["score_micro"]) for r in top]
        rec.ok = all(looked)
        return rec

    run.loop(step, max_batches)
    rows = curated.to_df().select("doc_id").collect()
    kept = {r["doc_id"] for r in rows}
    run.check(len(kept) == len(rows), "curated doc ids are unique")
    problems = stream.check_ids(kept)
    run.check(
        not problems,
        f"every verbatim copy removed, no fresh document dropped: {problems}",
    )
    texts = {i: stream.texts.get(i) or stream.edited[i] for i in kept}
    run.check(
        last_search == bm25_oracle(texts, stream.query_terms, 10),
        "last BM25 search equals the oracle over the curated table",
    )
    merges = probe.merge_rows(curated)
    files, nbytes = probe.layout(curated)
    return {
        "rows_written": sum(w for w, _ in merges),
        "rows_changed": sum(c for _, c in merges),
        "merge_ratios": [w / c for w, c in merges if c],
        "silver_files": files,
        "silver_bytes": nbytes,
        "log_bytes": probe.dir_bytes(os.path.join(root, "lake"), "_lake_log"),
        **counts,
    }
