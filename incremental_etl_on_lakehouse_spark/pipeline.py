"""The medallion CDC pipeline: JSON landing zone -> Bronze -> Silver -> Gold.

End-to-end re-expression of the reference's demo pipeline
(``notebooks/demo-notebook.py``), wired from the engine's reusable pieces:

- **Bronze** (``:158-194``): streaming JSON ingest (1 file per micro-batch),
  augmented with ``data_hash`` (md5 of business columns), ``file_name``
  provenance, and ``insert_timestamp`` audit columns; appended to an
  append-only lake table.
- **Silver** (``:211-287``): per micro-batch of new Bronze rows — latest-wins
  intra-batch dedup then 3-way conditional MERGE (delete / hash-guarded
  update / insert) into the current-state snapshot keyed by ``id``; change
  data feed enabled. Adds derived ``utc_visit_timestamp`` (``:253``).
- **Gold** (``:349-435``): per micro-batch of Silver *changes* — signed-delta
  conversion and additive MERGE maintaining ``(country, sum_visitors)``
  incrementally; only deltas are aggregated, never the full Silver table.

Late/out-of-order data follows the reference (``:262-276``): no watermark —
latest ``cdc_timestamp`` wins per id and re-delivered duplicates are no-ops
via the hash guard, so the pipeline is eventually consistent under
at-least-once delivery.

Two classes:

- :class:`CdcMedallionPipeline` — the GENERIC pipeline: any landing record
  schema (business columns + ``cdc_operation`` + an ordering column), any
  key columns, any additive Gold aggregate. Every stage is the same engine
  machinery the reference instance uses.
- :class:`MedallionPipeline` — the reference's pipeline as a subclass:
  the demo's exact schemas (FIXTURES.md A1-A4) plus its one bespoke Silver
  derivation (``utc_visit_timestamp``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from incremental_etl_on_lakehouse_spark.functions import data_hash, to_utc
from incremental_etl_on_lakehouse_spark.lake import LakeStreamReader, LakeTable
from incremental_etl_on_lakehouse_spark.lake.table import persist_scope
from incremental_etl_on_lakehouse_spark.operators.cdc import (
    cdf_signed_deltas,
    merge_agg_delta,
    merge_cdc_batch,
)
from incremental_etl_on_lakehouse_spark.sources.discovery import LandingLedger
from incremental_etl_on_lakehouse_spark.sources.json_source import (
    SchemaTracker,
    read_json_auto_batch,
)

# Reference schemas: FIXTURES.md A1-A4; notebooks/demo-notebook.py:163-165,213-227,351-356
# (built without fromDDL: that needs an active SparkSession at import time)
def _fields(spec: list[tuple[str, object]]) -> StructType:
    return StructType([StructField(n, t) for n, t in spec])


_S, _L, _T = StringType(), LongType(), TimestampType()


def _sum_result_type(value_type):
    """Spark's SUM result type for a numeric input type: integrals widen
    to LONG, float/double to DOUBLE, DECIMAL(p,s) to DECIMAL(p+10,s)
    capped at 38 (mirrors Catalyst's ``Sum.resultType``). Non-numeric
    types are rejected — the additive Gold aggregate can't sum them."""
    from pyspark.sql.types import (
        ByteType,
        DecimalType,
        DoubleType,
        FloatType,
        IntegerType,
        ShortType,
    )

    if isinstance(value_type, (ByteType, ShortType, IntegerType, LongType)):
        return LongType()
    if isinstance(value_type, (FloatType, DoubleType)):
        return DoubleType()
    if isinstance(value_type, DecimalType):
        return DecimalType(min(38, value_type.precision + 10), value_type.scale)
    raise ValueError(
        f"gold_value_col must be numeric (got {value_type.simpleString()}): "
        "the additive Gold aggregate is SUM(value)"
    )

CDC_LOG_SCHEMA = _fields(
    [
        ("id", _L),
        ("country", _S),
        ("district", _S),
        ("visit_timestamp", _T),
        ("num_visitors", _L),
        ("cdc_operation", _S),
        ("cdc_timestamp", _T),
    ]
)

# Bronze bookkeeping columns appended after the landing record's fields.
# record_seq: insert_timestamp is query-constant per append
# (current_timestamp evaluates once), so it cannot break intra-batch
# order-column ties — record_seq can, making Silver deterministic given
# the Bronze bytes.
_BOOKKEEPING = [
    ("data_hash", _S),
    ("file_name", _S),
    ("insert_timestamp", _T),
    ("record_seq", _L),
]

BRONZE_SCHEMA = _fields(
    [(f.name, f.dataType) for f in CDC_LOG_SCHEMA.fields] + _BOOKKEEPING
)
SILVER_SCHEMA = _fields(
    [
        ("id", _L),
        ("country", _S),
        ("district", _S),
        ("visit_timestamp", _T),
        ("utc_visit_timestamp", _T),
        ("num_visitors", _L),
        ("file_name", _S),
        ("data_hash", _S),
        ("cdc_operation", _S),
        ("cdc_timestamp", _T),
        ("insert_timestamp", _T),
    ]
)
GOLD_SCHEMA = _fields([("country", _S), ("sum_visitors", _L)])
QUARANTINE_SCHEMA = _fields(
    [("_corrupt_record", _S), ("file_name", _S), ("insert_timestamp", _T)]
)

BUSINESS_COLS = ["id", "country", "district", "visit_timestamp", "num_visitors"]


def augment_bronze(df: DataFrame, business_cols: list[str] | None = None) -> DataFrame:
    """Bronze derived columns (``notebooks/demo-notebook.py:168-170``)."""
    out = df.withColumn("data_hash", data_hash(*(business_cols or BUSINESS_COLS)))
    if "file_name" not in out.columns:
        out = out.withColumn("file_name", F.input_file_name())
    return out.withColumn(
        "insert_timestamp", F.current_timestamp()
    ).withColumn("record_seq", F.monotonically_increasing_id())


def silver_projection(bronze_batch: DataFrame) -> DataFrame:
    """Reference Silver source projection incl. ``utc_visit_timestamp``
    (``:248-259``)."""
    return bronze_batch.select(
        "id",
        "country",
        "district",
        "visit_timestamp",
        to_utc("visit_timestamp").alias("utc_visit_timestamp"),
        "num_visitors",
        "file_name",
        "data_hash",
        "cdc_operation",
        "cdc_timestamp",
        "insert_timestamp",
        # dedup tiebreaker only — not a Silver column (MERGE ignores
        # source columns absent from the target schema)
        "record_seq",
    )


class CdcMedallionPipeline:
    """Generic landing-zone -> Bronze -> Silver -> Gold CDC pipeline.

    Parameters define the contract the reference pipeline hard-codes:

    - ``log_schema``: the landing record — business columns plus
      ``cdc_operation`` (INSERT/UPDATE/DELETE) and ``order_col``.
    - ``key_cols``: Silver's natural key (latest record per key wins).
    - ``order_col``: the CDC ordering column (default ``cdc_timestamp``);
      ties across batches break on Bronze ingest time + record sequence,
      and the MERGE order guard is (order_col, insert_timestamp) so a
      late re-delivered older batch can never regress Silver.
    - ``gold_group_cols`` / ``gold_value_col`` / ``gold_agg_col``: the
      additive Gold aggregate (``SUM(value) GROUP BY group``), maintained
      purely from Silver's change feed — only deltas are ever aggregated.
      Omit ``gold_group_cols`` to run a two-layer (no Gold) pipeline.

    Every stage is checkpointed and idempotent: landing files are tracked
    by Spark's streaming checkpoint, Bronze/quarantine appends and the
    Gold additive merge carry SetTransaction-style txn guards, and the
    Silver merge is hash- + order-guarded, so at-least-once delivery and
    crash-replay converge to the same tables.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        landing_path: str,
        log_schema: StructType | None = None,
        key_cols: list[str] | None = None,
        order_col: str = "cdc_timestamp",
        gold_group_cols: list[str] | None = None,
        gold_value_col: str | None = None,
        gold_agg_col: str | None = None,
        schema_evolution: bool = True,
        expectations: dict[str, tuple[str, str]] | None = None,
    ):
        self.spark = spark
        self.root = root
        self.landing_path = landing_path
        self.schema_evolution = schema_evolution
        self.log_schema = log_schema if log_schema is not None else CDC_LOG_SCHEMA
        self.key_cols = list(key_cols) if key_cols else ["id"]
        self.order_col = order_col
        self.gold_group_cols = list(gold_group_cols) if gold_group_cols else None
        self.gold_value_col = gold_value_col
        self.gold_agg_col = gold_agg_col or (
            f"sum_{gold_value_col}" if gold_value_col else None
        )
        names = self.log_schema.fieldNames()
        for required in ("cdc_operation", order_col):
            if required not in names:
                raise ValueError(f"log schema must carry {required!r}")
        self.business_cols = [
            n for n in names if n not in ("cdc_operation", order_col)
        ]
        missing_keys = [k for k in self.key_cols if k not in self.business_cols]
        if missing_keys:
            raise ValueError(f"key columns not in log schema: {missing_keys}")
        if self.gold_group_cols:
            # fail at construction, not mid-stream after Bronze/Silver
            # commits: an incomplete Gold spec would otherwise surface as
            # an obscure crash deep in schema construction
            if not self.gold_value_col:
                raise ValueError(
                    "gold_group_cols requires gold_value_col (the additive "
                    "Gold aggregate needs a value to sum)"
                )
            bad = [
                c
                for c in self.gold_group_cols + [self.gold_value_col]
                if c not in self.business_cols
            ]
            if bad:
                raise ValueError(f"gold columns not in log schema: {bad}")
            # reject non-numeric value columns here, not mid-stream after
            # Bronze/Silver commits (also derives the Gold agg type —
            # see gold_schema)
            _sum_result_type(
                {f.name: f.dataType for f in self.log_schema.fields}[
                    self.gold_value_col
                ]
            )
        # Expectations (the DLT pattern): name -> (boolean SQL over the
        # Silver source columns, action). Actions: "warn" keeps violating
        # rows and only counts them, "drop" excludes them from Silver,
        # "fail" aborts the batch. Per-batch pass/fail counts land in the
        # _expectations audit table.
        self.expectations = dict(expectations or {})
        for name, (cond, action) in self.expectations.items():
            if action not in ("warn", "drop", "fail"):
                raise ValueError(
                    f"expectation {name!r}: action must be warn|drop|fail, "
                    f"got {action!r}"
                )
        self.bronze_path = os.path.join(root, "bronze")
        self.silver_path = os.path.join(root, "silver")
        self.gold_path = os.path.join(root, "gold")
        self.quarantine_path = os.path.join(root, "quarantine")
        self.expectations_path = os.path.join(root, "_expectations")
        self.checkpoints = os.path.join(root, "_checkpoints")

    # ------------------------------------------------------------- schemas

    def bronze_schema(self) -> StructType:
        return _fields(
            [(f.name, f.dataType) for f in self.log_schema.fields] + _BOOKKEEPING
        )

    def silver_schema(self) -> StructType:
        types = {f.name: f.dataType for f in self.log_schema.fields}
        return _fields(
            [(n, types[n]) for n in self.business_cols]
            + [
                ("file_name", _S),
                ("data_hash", _S),
                ("cdc_operation", _S),
                (self.order_col, types[self.order_col]),
                ("insert_timestamp", _T),
            ]
        )

    def gold_schema(self) -> StructType | None:
        if not self.gold_group_cols:
            return None
        types = {f.name: f.dataType for f in self.log_schema.fields}
        # The Gold aggregate column carries SUM(value): its type is Spark's
        # SUM result type for the value column, derived from log_schema —
        # a hard-coded LongType silently cast-truncated double-valued Gold
        # totals on every merge (round-5 ADVICE medium).
        agg_type = _sum_result_type(types[self.gold_value_col])
        return _fields(
            [(c, types[c]) for c in self.gold_group_cols]
            + [(self.gold_agg_col, agg_type)]
        )

    def silver_source(self, bronze_batch: DataFrame) -> DataFrame:
        """Silver MERGE source projection; subclasses add derived columns
        (the reference adds ``utc_visit_timestamp``). Must keep
        ``record_seq`` — the intra-batch dedup tiebreaker (not a Silver
        column; MERGE ignores source columns absent from the target)."""
        return bronze_batch.select(
            *self.business_cols,
            "file_name",
            "data_hash",
            "cdc_operation",
            self.order_col,
            "insert_timestamp",
            "record_seq",
        )

    # ------------------------------------------------------------------ DDL

    def create_tables(self) -> None:
        LakeTable.create(
            self.spark, self.bronze_path, self.bronze_schema(), if_not_exists=True
        )
        LakeTable.create(
            self.spark,
            self.silver_path,
            self.silver_schema(),
            properties={
                "enableChangeDataFeed": "true",
                "statsColumns": ",".join(self.key_cols),
            },
            if_not_exists=True,
        )
        gold_schema = self.gold_schema()
        if gold_schema is not None:
            LakeTable.create(
                self.spark, self.gold_path, gold_schema, if_not_exists=True
            )
        LakeTable.create(
            self.spark, self.quarantine_path, QUARANTINE_SCHEMA, if_not_exists=True
        )
        if self.expectations:
            LakeTable.create(
                self.spark,
                self.expectations_path,
                _fields(
                    [
                        ("batch_version", _L),
                        ("expectation", _S),
                        ("action", _S),
                        ("n_pass", _L),
                        ("n_fail", _L),
                    ]
                ),
                if_not_exists=True,
            )

    @property
    def bronze(self) -> LakeTable:
        return LakeTable(self.spark, self.bronze_path)

    @property
    def quarantine(self) -> LakeTable:
        return LakeTable(self.spark, self.quarantine_path)

    @property
    def silver(self) -> LakeTable:
        return LakeTable(self.spark, self.silver_path)

    @property
    def gold(self) -> LakeTable:
        return LakeTable(self.spark, self.gold_path)

    @property
    def expectations_table(self) -> LakeTable:
        return LakeTable(self.spark, self.expectations_path)

    def register_in(self, catalog, db: str, prefix: str = "visitors") -> None:
        """Expose the pipeline's tables in a persistent catalog as
        ``{prefix}_bronze/_silver/_gold`` (+ ``_quarantine`` when present)
        — the reference's ``${db}.visitors_*`` naming
        (``notebooks/demo-notebook.py:80-110,211-224``). Registrations are
        EXTERNAL: dropping the names never deletes pipeline data, and the
        mapping survives sessions (the metastore log). Idempotent —
        re-registering the same paths is a no-op."""
        for name, path in (
            ("bronze", self.bronze_path),
            ("silver", self.silver_path),
            ("gold", self.gold_path),
            ("quarantine", self.quarantine_path),
        ):
            if LakeTable.exists(path):
                catalog.register_table(db, f"{prefix}_{name}", path)

    def _enforce_expectations(self, src: DataFrame, version: int) -> DataFrame:
        """Evaluate every expectation over the Silver source batch in ONE
        aggregation job; a NULL condition counts as a violation (the DLT
        convention). ``fail`` aborts BEFORE any append, so the reader
        offset does not advance and the batch is retried after the fix;
        ``drop``/``warn`` counts land in the _expectations audit table
        with a txn guard keyed on the source commit (replay-safe).

        CDC DELETE records are EXEMPT: expectations constrain business
        payloads, and delete feeds routinely carry NULL payload columns
        (only the key is populated) — evaluating rules on them would
        suppress the delete (leaving the key live forever) or wedge the
        pipeline on a fail rule. Callers should persist ``src`` around
        this call: the counts aggregation and the downstream merge each
        evaluate the batch plan."""
        if not self.expectations:
            return src
        is_delete = F.col("cdc_operation") == F.lit("DELETE")
        names = list(self.expectations)
        aggs = [
            F.sum(F.when(is_delete, 0).otherwise(1)).alias("__n")
        ] + [
            F.sum(
                F.when(
                    is_delete
                    | F.coalesce(F.expr(self.expectations[n][0]), F.lit(False)),
                    0,
                ).otherwise(1)
            ).alias(f"__f_{i}")
            for i, n in enumerate(names)
        ]
        row = src.agg(*aggs).collect()[0]
        total = int(row["__n"] or 0)
        recs = []
        for i, name in enumerate(names):
            cond, action = self.expectations[name]
            n_fail = int(row[f"__f_{i}"] or 0)
            if action == "fail" and n_fail:
                raise ValueError(
                    f"expectation {name!r} ({cond}) failed for {n_fail} "
                    f"row(s) in batch {version}"
                )
            recs.append((int(version), name, action, total - n_fail, n_fail))
        self.expectations_table.append(
            self.spark.createDataFrame(
                recs,
                "batch_version bigint, expectation string, action string,"
                " n_pass bigint, n_fail bigint",
            ),
            txn_app_id="pipeline_expectations",
            txn_version=int(version),
        )
        for name in names:
            cond, action = self.expectations[name]
            if action == "drop":
                src = src.where(
                    is_delete | F.coalesce(F.expr(cond), F.lit(False))
                )
        return src

    # ---------------------------------------------------------------- stages

    def ingest_available(self) -> None:
        """Landing JSON -> Bronze, paced at 1 file per batch with
        exactly-once file tracking via a persisted discovery ledger
        (``notebooks/demo-notebook.py:158-173``). Malformed records are
        captured to the quarantine table instead of flowing on as all-null
        rows (OSS analogue of Autoloader's rescued-data column).

        Discovery is INCREMENTAL (Autoloader's contract): a trigger does
        one directory scan plus O(new files) work — the ledger's
        (mtime watermark, boundary tie-set) replaces both Spark's
        per-trigger full listing diff and its ever-growing seen-file map
        (``sources/discovery.py``). Exactly-once survives crashes via a
        write-ahead intent in the ledger: an interrupted file replays on
        restart, and the Bronze/quarantine idempotent-txn guards
        (keyed on the ledger's batch id) turn a replay of an
        already-committed append into a no-op.

        With ``schema_evolution`` (default on), each call is a boundary
        where drift is detected: the persisted schema at
        ``_checkpoints/bronze_schema.json`` is widened with any new landing
        columns (Autoloader ``schemaLocation``/``addNewColumns`` semantics,
        ``notebooks/demo-notebook.py:163-166``) — inference reads ONLY the
        newly discovered files, since drift can't appear in ingested ones —
        and the Bronze append runs with ``merge_schema`` so the new columns
        land instead of vanishing. Silver keeps its fixed DDL (the
        reference's contract) — evolved columns stay Bronze-side until
        promoted explicitly."""
        ledger = LandingLedger(
            self.landing_path,
            os.path.join(self.checkpoints, "landing_ledger.json"),
        )
        if not ledger.exists_on_disk():
            self._bootstrap_ledger(ledger)
        pend = ledger.pending()
        new_files = ledger.list_new()
        sample = [f for f, _ in new_files] + ([pend["file"]] if pend else [])
        schema = self.log_schema
        if self.schema_evolution:
            tracker = SchemaTracker(
                self.spark,
                self.landing_path,
                os.path.join(self.checkpoints, "bronze_schema.json"),
                base_schema=self.log_schema,
                multiline="auto",
            )
            if sample:
                schema, _new_cols = tracker.evolve(sample_files=sample)
            else:
                schema = tracker.current()
        if pend:
            # resume the interrupted batch exactly as intended pre-crash
            self._ingest_file(pend["file"], int(pend["batch_id"]), schema)
            ledger.complete()
        for path, mtime_ns in new_files:
            bid = ledger.begin(path, mtime_ns)
            self._ingest_file(path, bid, schema)
            ledger.complete()

    def _bootstrap_ledger(self, ledger: LandingLedger) -> None:
        """First run of the ledger on a pipeline that may have ingested via
        the previous checkpoint mechanism: seed the seen-set from the file
        provenance Bronze/quarantine already carry, and the batch counter
        from the recorded txn versions. O(table metadata + one provenance
        scan), once; fresh pipelines skip the scan entirely."""
        seen: set[str] = set()
        next_bid = 0
        for t, app in (
            (self.bronze, "pipeline_bronze"),
            (self.quarantine, "pipeline_quarantine"),
        ):
            if t.version() <= 0:
                continue
            last = t.txn_version(app)
            if last is not None:
                next_bid = max(next_bid, int(last) + 1)
            for r in t.to_df().select("file_name").distinct().collect():
                if r["file_name"]:
                    # input_file_name() provenance is a file: URI
                    seen.add(r["file_name"].removeprefix("file:"))
        ledger.bootstrap(sorted(seen), next_bid)

    def _ingest_file(self, path: str, batch_id: int, schema) -> None:
        """Ingest ONE landing file (format-auto: JSON array, pretty object,
        or NDJSON — ``sources/json_source.py`` module note) into
        Bronze/quarantine under the idempotent-txn guard."""
        if not os.path.exists(path):
            # deleted between discovery and read (contract violation, but a
            # permanent replay-crash loop would be worse) — mark and move on
            return
        batch_df = read_json_auto_batch(
            self.spark, [path], schema, corrupt_col="_corrupt_record"
        )
        if batch_df.isEmpty():
            return
        # input_file_name() must be captured before persist: cached rows
        # no longer carry scan-time file provenance
        with persist_scope() as persist:
            batch_df = persist(
                batch_df.withColumn("file_name", F.input_file_name())
            )
            bad = batch_df.where(F.col("_corrupt_record").isNotNull())
            if not bad.isEmpty():
                # txn guard: a crash between this append and the ledger's
                # complete() re-delivers the batch — the recorded
                # (app, batch_id) makes the replay a no-op instead of
                # permanent duplicate rows
                self.quarantine.append(
                    bad.select(
                        "_corrupt_record",
                        "file_name",
                        F.current_timestamp().alias("insert_timestamp"),
                    ),
                    txn_app_id="pipeline_quarantine",
                    txn_version=batch_id,
                )
            good = batch_df.where(F.col("_corrupt_record").isNull()).drop(
                "_corrupt_record"
            )
            if not good.isEmpty():
                self.bronze.append(
                    augment_bronze(good, self.business_cols),
                    merge_schema=self.schema_evolution,
                    txn_app_id="pipeline_bronze",
                    txn_version=batch_id,
                )

    def bronze_to_silver_available(self) -> int:
        """New Bronze commits -> dedup + CDC MERGE into Silver
        (``notebooks/demo-notebook.py:232-287``)."""
        silver = self.silver
        reader = LakeStreamReader(
            self.bronze,
            os.path.join(self.checkpoints, "silver.json"),
            mode="append",
            starting_version=0,
        )

        def apply(batch: DataFrame, version: int) -> None:
            # order guard: a LATE re-delivered older batch (cross-batch
            # reordering) must never regress Silver to stale values — the
            # hash guard alone only absorbs identical re-delivery.
            # insert_timestamp rides as the second (lexicographic) guard
            # column: it is the Bronze ingest time, immutable under replay
            # and strictly later for later-ingested batches, so a change
            # whose order column EQUALS the stored row's (two changes to
            # one key inside one timestamp tick, split across batches)
            # still applies, while replayed older batches stay blocked —
            # a single strict order-column guard would drop it forever.
            src = self.silver_source(batch)
            with persist_scope() as persist:
                if self.expectations:
                    # the expectation counts job and the merge each
                    # evaluate the batch plan — persist so the bronze read
                    # runs once
                    src = persist(src)
                merge_cdc_batch(
                    silver,
                    self._enforce_expectations(src, version),
                    key_cols=self.key_cols,
                    order_cols=[self.order_col],
                    tiebreak_cols=["insert_timestamp", "record_seq"],
                    order_guard_cols=[self.order_col, "insert_timestamp"],
                )

        return reader.process_available(apply)

    def silver_to_gold_available(self) -> int:
        """Silver change feed -> signed deltas -> additive MERGE into Gold
        (``notebooks/demo-notebook.py:378-435``)."""
        if not self.gold_group_cols:
            return 0
        gold = self.gold
        reader = LakeStreamReader(
            self.silver,
            os.path.join(self.checkpoints, "gold.json"),
            mode="cdf",
            starting_version=1,
        )
        delta_col = f"delta_{self.gold_value_col}"

        def apply(changes: DataFrame, version: int) -> None:
            deltas = cdf_signed_deltas(
                changes,
                group_cols=self.gold_group_cols,
                value_col=self.gold_value_col,
            ).withColumnRenamed("delta_value", delta_col)
            # txn guard keyed on the source CDF version: additive merges
            # are NOT naturally idempotent (total += delta re-applies on
            # replay after a crash before the reader's offset write)
            merge_agg_delta(
                gold,
                deltas,
                group_cols=self.gold_group_cols,
                agg_col=self.gold_agg_col,
                delta_col=delta_col,
                txn_app_id="pipeline_gold",
                txn_version=version,
            )

        return reader.process_available(apply)

    def run_available(self) -> None:
        """Process everything currently in the landing zone through all
        three stages (the demo's "run until caught up" loop)."""
        self.create_tables()
        self.ingest_available()
        self.bronze_to_silver_available()
        self.silver_to_gold_available()


class MedallionPipeline(CdcMedallionPipeline):
    """The reference's pipeline: the demo schemas (FIXTURES.md A1-A4), keys,
    Gold aggregate, and its one bespoke Silver derivation
    (``utc_visit_timestamp``, ``notebooks/demo-notebook.py:253``)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        landing_path: str,
        schema_evolution: bool = True,
    ):
        super().__init__(
            spark,
            root,
            landing_path,
            log_schema=CDC_LOG_SCHEMA,
            key_cols=["id"],
            order_col="cdc_timestamp",
            gold_group_cols=["country"],
            gold_value_col="num_visitors",
            gold_agg_col="sum_visitors",
            schema_evolution=schema_evolution,
        )

    def silver_schema(self) -> StructType:
        return SILVER_SCHEMA

    def silver_source(self, bronze_batch: DataFrame) -> DataFrame:
        return silver_projection(bronze_batch)
