"""LakeTable: versioned parquet table with append, MERGE, CDF, time travel.

Gives OSS Spark the table capabilities the reference uses from Databricks Delta
(`notebooks/demo-notebook.py`): streaming append sink (:171-173), 3-way
conditional MERGE (:244-280), additive aggregate MERGE (:393-425), change data
feed (:363-373, :428-431), and ``VERSION AS OF`` time travel (:533-535).

Scale notes (100 TB):

- A MERGE joins the *full* source batch against the target once to find the
  touched data files, then rewrites ONLY those files. With a content-hash
  no-op guard in the update clause (the reference's ``data_hash <>`` trick,
  ``notebooks/demo-notebook.py:276``) a re-delivered duplicate batch touches
  zero files.
- The file-finding semi-join and the rewrite join both shuffle on the merge
  key; AQE handles skew. The source side of a CDC merge is a micro-batch —
  small — so Catalyst broadcast-joins it against the target scan.
- Change-feed reads for pure appends are synthesized from the commit's file
  list (no CDF double-write); only merges materialize changed rows.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import urllib.parse
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from incremental_etl_on_lakehouse_spark.lake import log as lakelog
from incremental_etl_on_lakehouse_spark.lake.log import CDF_DIR, DATA_DIR, Commit

CHANGE_TYPE = "_change_type"
COMMIT_VERSION = "_commit_version"
COMMIT_TIMESTAMP = "_commit_timestamp"

# Table-property key prefix under which CHECK constraints are recorded
# (mirrors Delta's ``delta.constraints.<name>`` property convention). An
# empty value is a tombstone: table_state merges properties forward across
# commits, so DROP CONSTRAINT records ``constraint.<name> = ""``.
CONSTRAINT_PREFIX = "constraint."

# Deletion-vector sidecars live here (parquet of (file_name, row_index)
# markers). Never part of the active data-file set.
DV_DIR = "_dv"

# Bloom-filter file index: per-file membership bitmaps for the columns in
# the ``bloomFilterColumns`` property (Delta's bloom filter index). Fixed
# seed family; the bitmap length is recorded implicitly by its size, so a
# later ``bloomFilterBits`` change never mis-probes old files.
BLOOM_SEEDS = (0x51ED0, 0x51ED1, 0x51ED2)

# MERGE stats-pruning breakeven: below this many active files, the min/max
# bounds job over the source costs more than reading every file, so merge
# skips pruning (see merge()). At 100 TB a table holds thousands of files
# and pruning always engages; the threshold only trims micro-batch fixed
# cost on small/young tables.
MERGE_PRUNE_MIN_FILES = 4

# Protocol table features (Delta's reader protocol/table features): a
# table records, in the ``protocol.readerFeatures`` property, every active
# feature that changes how its FILES must be interpreted. A reader that
# doesn't know a listed feature must refuse to open the table — silently
# ignoring, say, deletion vectors resurrects deleted rows. This engine
# understands:
SUPPORTED_READER_FEATURES = frozenset(
    {"deletionVectors", "columnMapping", "rowTracking"}
)


def _reader_features_from_props(props: dict) -> set[str]:
    """Read-semantics features implied by table properties. columnMapping
    is activated by the first RENAME COLUMN, not a property."""
    feats = set()
    if str(props.get("enableDeletionVectors", "false")).lower() == "true":
        feats.add("deletionVectors")
    if str(props.get("enableRowTracking", "false")).lower() == "true":
        feats.add("rowTracking")
    return feats


class ConstraintViolationError(ValueError):
    """A write produced rows that violate a table CHECK constraint; the
    staged files were discarded and no commit was made."""


def _row_satisfies(row, spark, schema, expr: str) -> bool:
    """Evaluate a CHECK expression against one already-fetched row (error
    path only — names which constraint(s) a violating row fired)."""
    df = spark.createDataFrame([row], schema)
    return bool(df.where(F.coalesce(F.expr(expr), F.lit(True))).limit(1).collect())


def _bq(name: str) -> str:
    """Escape a column name for use inside SQL backquotes (doubling any
    embedded backtick, Spark's identifier-quoting rule)."""
    return name.replace("`", "``")


def _json_safe(v):
    """Restrict file stats to JSON-comparable scalars; anything else is
    dropped (None = no stat = conservatively kept by data skipping)."""
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return None


# `target` must start a reference path (not be preceded by `.` — that
# would make it a struct FIELD like source.target.x, which is a source
# reference) and be followed by `.`
_TARGET_REF = re.compile(r"(?i)(?<![\w`.])(?:`target`|target)\s*\.")

# single- or double-quoted SQL string literal; both the doubled-quote
# escape ('' / "") and Spark's default backslash escape (\' \" \\) stay
# inside the span
_STR_LITERAL = re.compile(r"'(?:[^'\\]|''|\\.)*'|\"(?:[^\"\\]|\"\"|\\.)*\"")

_IDENTIFIER = re.compile(r"`((?:[^`]|``)+)`|([A-Za-z_][A-Za-z0-9_]*)")

# SQL words that are legal in a condition WITHOUT being column references
# and WITHOUT parentheses/dots around them — keywords, interval units, and
# the paren-less current_* functions. An UNQUOTED identifier matching one
# of these is skipped by the lexical target-only scan (a column that
# genuinely collides, e.g. one named `day`, can always be backtick-quoted,
# which stays strict); without this, a valid condition like
# ``source.ts > current_timestamp() - INTERVAL 1 DAY`` is falsely rejected
# whenever the target happens to have a column named ``day``.
_SQL_NONCOLUMN_WORDS = frozenset(
    {
        "and", "or", "not", "null", "true", "false",
        "case", "when", "then", "else", "end",
        "is", "in", "like", "rlike", "ilike", "escape", "between",
        "cast", "as", "div", "distinct", "exists", "interval",
        "current_timestamp", "current_date",
    }
    | {
        unit + s
        for unit in (
            "year", "quarter", "month", "week", "day",
            "hour", "minute", "second", "millisecond", "microsecond",
        )
        for s in ("", "s")
    }
)


@contextlib.contextmanager
def conf_scope(spark: SparkSession, settings: dict[str, str]):
    """Set session confs for the scope; on exit (normal or exception)
    restore each key's prior session value, or unset a key the session
    had not set. An empty ``settings`` costs no round trip."""
    prev = {k: spark.conf.get(k, None) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, p in prev.items():
            if p is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, p)


# Scoped plan mode for PROVABLY-MICRO jobs (``conf_scope(spark,
# MICRO_PLAN_CONF if micro else {})``). AQE's per-shuffle query-stage
# materialization is the right trade on big inputs (skew split, partition
# coalescing) but is pure fixed cost on a job the caller KNOWS is a
# few-thousand-row rewrite — measured 14-26% of micro-batch merge wall on
# the sf0.1 CDC keys. Callers gate the scope on exact row counts from the
# commit log / plan probe (metadata-driven, like the merge broadcast
# hint), so a big write never loses AQE. Config scope is the session:
# concurrent writers in one session may transiently plan without AQE — a
# performance-mode wobble only, never a semantics change.
MICRO_PLAN_CONF = {
    "spark.sql.adaptive.enabled": "false",
    # ... and no whole-stage codegen: a provably-micro job's few thousand
    # rows never amortize a Janino compile, and the compile cache misses
    # on every merge because the generated code embeds literals that
    # change per commit (file paths, versions) — measured as the largest
    # slice of the ~0.3 s/job floor on 1-task maintenance jobs. Scoped to
    # micro plans only; big jobs keep codegen (where it pays).
    "spark.sql.codegen.wholeStage": "false",
    # a provably-micro shuffle needs exactly one reducer: N static
    # partitions are N near-empty tasks each paying scheduler+launch
    # overhead (32 locally, 200 on a default cluster session), and with
    # AQE off nothing coalesces them. Gated on the same exact row counts
    # as the AQE disable, so a big shuffle never sees this.
    "spark.sql.shuffle.partitions": "1",
    # ... and no broadcast joins: every BroadcastExchange spawns its own
    # driver-side build JOB (the withThreadLocalCaptured future), which on
    # single-partition micro plans costs more scheduling than the join it
    # feeds — a 1-task sort-merge/hash join executes INSIDE the one job.
    # Explicit broadcast() hints override this; micro-aware callers gate
    # their hints on the scope decision.
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


_NO_PARTITION_INFERENCE = {
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false"
}


@contextlib.contextmanager
def persist_scope():
    """Owns every frame persisted inside it: ``persist(df)`` persists the
    frame and returns it; on exit — normal return, early return or
    exception — each one is unpersisted (non-blocking). The persist call
    sits wherever the caller needs it (inside a plan-conf scope, after a
    probe), since persist() compiles the cached plan at call time."""
    held: list[DataFrame] = []

    def persist(df: DataFrame) -> DataFrame:
        held.append(df.persist())
        return df

    try:
        yield persist
    finally:
        for df in held:
            df.unpersist()


# planning inputs at or under this byte total are "provably micro": AQE's
# per-stage scheduling and multi-task shuffles cannot pay for themselves
MICRO_PLAN_INPUT_BYTES = 64 * 1024 * 1024


def _analyzed_leaf_bytes(df: DataFrame) -> int | None:
    """Sum of the ANALYZED plan's leaf size estimates (file-backed scans /
    local relations). Deliberately not the optimized plan's root estimate:
    a join in the plan makes the root a row-count product (inflated by
    orders of magnitude), and the optimized plan substitutes cached
    subtrees whose InMemoryRelation stats inherit that inflation. Engine
    maintenance plans are row-preserving over their scans, so input bytes
    bound their work. Analysis only — no optimizer run. None = unknown."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        return sum(
            int(leaves.apply(i).stats().sizeInBytes())
            for i in range(leaves.size())
        )
    except Exception:
        return None


@contextlib.contextmanager
def maintenance_plan_scope(spark: SparkSession, *dfs: DataFrame):
    """AQE-off + single-reducer scope for a maintenance computation whose
    EVERY input frame is provably micro (combined analyzed leaf bytes at
    or under MICRO_PLAN_INPUT_BYTES). Covers the operator-level persists
    and emptiness probes that sit OUTSIDE LakeTable.merge's own probe
    scope: persist() compiles the cached physical plan at call time, so a
    persist taken with AQE on pays one scheduled query-stage job per
    Exchange every time the cache materializes — pure fixed cost on a
    few-thousand-row maintenance batch, the right trade on a big one
    (which keeps AQE because the gate won't fire). Yields the decision so
    callers can branch on it if needed."""
    total = 0
    micro = True
    for df in dfs:
        b = _analyzed_leaf_bytes(df)
        if b is None:
            micro = False
            break
        total += b
    micro = micro and total <= MICRO_PLAN_INPUT_BYTES
    with conf_scope(spark, MICRO_PLAN_CONF if micro else {}):
        yield micro


def _refs_target(condition: str) -> bool:
    """True when a SQL condition references a ``target.``-qualified column
    (plain or backtick-quoted alias), ignoring occurrences inside string
    literals (single- OR double-quoted — Spark's default mode treats both
    as strings) and struct-field paths like ``source.target.x``."""
    return bool(_TARGET_REF.search(_STR_LITERAL.sub("''", condition)))


def _qualify_target_refs(expr: str, target_cols: set[str]) -> str:
    """Prefix unqualified references to target columns with ``target.`` —
    for BY SOURCE clause conditions/assignments, which reference target
    columns ONLY by contract (no source row exists) but are evaluated in
    the rewrite join where BOTH sides are in scope: an unqualified name
    is ambiguous there, and because the PLANNING probe (a target-only
    anti join) resolves it fine, the failure would otherwise surface only
    when a by-source row lands in a touched file — state-dependent.
    Lexical scan mirrors :func:`_unqualified_target_only_refs`; string
    literals are masked LENGTH-PRESERVINGLY so splice offsets stay valid
    in the original text."""
    masked = _STR_LITERAL.sub(
        lambda m: "'" + " " * (len(m.group(0)) - 2) + "'", expr
    )
    lowered = {c.lower() for c in target_cols}
    out: list[str] = []
    last = 0
    for m in _IDENTIFIER.finditer(masked):
        name = m.group(1).replace("``", "`") if m.group(1) else m.group(2)
        before = masked[: m.start()].rstrip()
        after = masked[m.end():].lstrip()
        if before.endswith("."):  # field of another reference
            continue
        if after.startswith(".") and name.lower() in ("source", "target"):
            continue  # already-qualified reference head
        if after.startswith("("):  # function call
            continue
        if m.group(2) and name.lower() in _SQL_NONCOLUMN_WORDS:
            continue
        if name.lower() not in lowered:
            continue
        out.append(expr[last : m.start()])
        out.append(f"target.`{name.replace('`', '``')}`")
        last = m.end()
    out.append(expr[last:])
    return "".join(out)


def _unqualified_target_only_refs(
    condition: str, target_only_cols: set[str]
) -> list[str]:
    """Column names referenced UNQUALIFIED in ``condition`` that exist only
    on the merge target (not on the source). These are as illegal in a NOT
    MATCHED condition as explicit ``target.`` references — there is no
    target row — but resolve state-dependently if allowed through (NULL on
    a non-empty target, AnalysisException on the join-free empty-target
    plan). Resolution is case-insensitive, matching Spark's default.

    Scanning is lexical: string literals are blanked; an identifier
    preceded by ``.`` is a struct field of something else; ``source.`` /
    ``target.`` qualifier heads are skipped; a name followed by ``(`` is a
    function call."""
    lowered = {c.lower() for c in target_only_cols}
    s = _STR_LITERAL.sub("''", condition)
    bad = []
    for m in _IDENTIFIER.finditer(s):
        name = m.group(1).replace("``", "`") if m.group(1) else m.group(2)
        before = s[: m.start()].rstrip()
        after = s[m.end() :].lstrip()
        if before.endswith("."):  # field of another reference
            continue
        if after.startswith(".") and name.lower() in ("source", "target"):
            continue  # qualifier head (target. is caught by _refs_target)
        if after.startswith("("):  # function call
            continue
        if m.group(2) and name.lower() in _SQL_NONCOLUMN_WORDS:
            continue  # unquoted SQL keyword / interval unit, not a column
        if name.lower() in lowered and name not in bad:
            bad.append(name)
    return bad


def _footer_stats(
    meta, stat_cols: set, phys2log: dict | None = None
) -> dict | None:
    """Per-file min/max for ``stat_cols`` from a parquet footer metadata
    object — shared by _stage_write and convert_from_parquet so the
    data-skipping-critical extraction has exactly one implementation.

    A column's stats are recorded ONLY if EVERY row group carries min/max
    for it: a falsely-narrow range from a partially-covered file (foreign
    writers can disable statistics per column or per row group) would make
    files_matching skip rows that exist — silent wrong answers. Missing
    stats just mean the file is conservatively kept.
    """
    if not stat_cols:
        return None
    phys2log = phys2log or {}
    stats: dict[str, list] = {}
    covered: dict[str, int] = {}
    schema_names = meta.schema.names
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            cname = (
                schema_names[ci] if ci < len(schema_names) else col.path_in_schema
            )
            # footers carry physical names; stats are recorded under the
            # write-time LOGICAL name (skipping probes match on logical)
            cname = phys2log.get(cname, cname)
            if cname in stat_cols and col.statistics is not None:
                s = col.statistics
                if s.has_min_max:
                    covered[cname] = covered.get(cname, 0) + 1
                    cur = stats.get(cname)
                    mn, mx = s.min, s.max
                    if cur:
                        mn = min(cur[0], mn)
                        mx = max(cur[1], mx)
                    stats[cname] = [mn, mx]
    out = {
        k: [_json_safe(v[0]), _json_safe(v[1])]
        for k, v in stats.items()
        if covered.get(k, 0) == meta.num_row_groups
    }
    return out or None


_ZORDER_SAMPLE_ROWS = 65_536
# 64 range buckets per dimension: file-level pruning only needs about as
# many distinct z-cells as output files, and 63 comparisons per column keeps
# the bucket expression well inside one codegen method.
_ZORDER_MAX_BITS = 6


def _zvalue(df: DataFrame, cols: list[str], total_rows: int):
    """Interleaved-bit z-value expression over ``cols``.

    Each column is mapped to a range bucket (0..2^bits-1) against split
    points taken from ONE bounded sample of the table — the same sampled
    range-partitioning any orderable type supports (numbers, strings,
    timestamps), so no per-type code. Buckets' bits are then interleaved:
    bit ``i`` of column ``j`` lands at position ``i*len(cols)+j``, giving
    the space-filling-curve locality that makes every clustered column
    independently prunable by file min/max stats.

    The bucketing expression is pure JVM (comparisons + shifts — stays in
    whole-stage codegen); only the split-point sample is collected, capped
    at ~64k rows whatever the table size. NULL sorts into bucket 0.
    """
    if len(cols) * _ZORDER_MAX_BITS > 63:
        raise ValueError(f"too many zorder columns for a long z-value: {cols}")
    frac = min(1.0, _ZORDER_SAMPLE_ROWS / max(total_rows, 1))
    sample = df.select(*cols).sample(fraction=frac, seed=7).collect()
    n_buckets = 1 << _ZORDER_MAX_BITS
    buckets = []
    for c in cols:
        vals = sorted(r[c] for r in sample if r[c] is not None)
        splits: list = []
        for k in range(1, n_buckets):
            if not vals:
                break
            v = vals[min(len(vals) - 1, (len(vals) * k) // n_buckets)]
            if not splits or v > splits[-1]:
                splits.append(v)
        b = F.lit(0).cast("long")
        for s in splits:
            b = b + (F.col(c) >= F.lit(s)).cast("long")
        buckets.append(F.coalesce(b, F.lit(0).cast("long")))
    z = F.lit(0).cast("long")
    for i in range(_ZORDER_MAX_BITS):
        for j, b in enumerate(buckets):
            z = z + F.shiftleft(
                F.shiftright(b, i).bitwiseAND(F.lit(1)), i * len(buckets) + j
            )
    return z


def _split_conjuncts(s: str) -> list[str]:
    """Split a boolean SQL expression on its top-level ANDs (quote- and
    paren-aware); OR anywhere at top level disables splitting entirely
    (a disjunction gives no sound per-conjunct bounds)."""
    parts, cur = [], []
    depth, in_str, i, n = 0, False, 0, len(s)
    up = s.upper()

    def boundary(j: int) -> bool:
        before_ok = j == 0 or not (s[j - 1].isalnum() or s[j - 1] == "_")
        after = j + 3
        after_ok = after >= n or not (s[after].isalnum() or s[after] == "_")
        return before_ok and after_ok

    while i < n:
        c = s[i]
        if in_str:
            cur.append(c)
            in_str = c != "'"
            i += 1
            continue
        if c == "'":
            in_str = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and up.startswith("OR", i) and (
            (i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_"))
            and (i + 2 >= n or not (s[i + 2].isalnum() or s[i + 2] == "_"))
        ):
            return [s]  # top-level OR: treat as one opaque conjunct
        if depth == 0 and up.startswith("AND", i) and boundary(i):
            parts.append("".join(cur))
            cur = []
            i += 3
            continue
        cur.append(c)
        i += 1
    parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


_CMP = re.compile(
    r"^`?(?P<col>\w+)`?\s*(?P<op>==|=|<=|>=|<|>)\s*"
    r"(?P<lit>-?\d+(?:\.\d+)?|'(?:[^']|'')*')$"
)
_CMP_REV = re.compile(
    r"^(?P<lit>-?\d+(?:\.\d+)?|'(?:[^']|'')*')\s*(?P<op>==|=|<=|>=|<|>)\s*"
    r"`?(?P<col>\w+)`?$"
)
_FLIP = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}


def condition_ranges(
    condition: str, stats_cols: list[str]
) -> dict[str, tuple]:
    """Sound per-column (lo, hi) bounds implied by a DML condition.

    Only ``col <cmp> literal`` (or reversed) top-level AND conjuncts over
    stats columns contribute; every other shape is ignored, so the result
    only ever *over*-approximates the matching file set. Strict bounds are
    relaxed to inclusive — pruning must stay conservative.
    """
    out: dict[str, tuple] = {}
    for conj in _split_conjuncts(condition):
        m = _CMP.match(conj.strip())
        if not m:
            m = _CMP_REV.match(conj.strip())
            if not m:
                continue
            op = _FLIP.get(m.group("op"), m.group("op"))
        else:
            op = m.group("op")
        col = m.group("col")
        if col not in stats_cols:
            continue
        lit = m.group("lit")
        val: object
        if lit.startswith("'"):
            val = lit[1:-1].replace("''", "'")
        else:
            val = float(lit) if "." in lit else int(lit)
        lo, hi = out.get(col, (None, None))
        if op in ("=", "=="):
            lo = val if lo is None else max(lo, val)
            hi = val if hi is None else min(hi, val)
        elif op in ("<", "<="):
            hi = val if hi is None else min(hi, val)
        else:  # > / >=
            lo = val if lo is None else max(lo, val)
        out[col] = (lo, hi)
    return out


@dataclass
class MergeClause:
    """One WHEN clause of a MERGE, in declaration order.

    kind: 'delete' (WHEN MATCHED ... DELETE), 'update' (WHEN MATCHED ...
    UPDATE), 'insert' (WHEN NOT MATCHED ... INSERT), or 'delete_by_source'
    / 'update_by_source' (WHEN NOT MATCHED BY SOURCE ... — fires on target
    rows with no source match; condition/assignments are target-only, and
    update assignments must be an explicit dict — there is no source row
    for '*').
    condition: SQL boolean over ``source.``/``target.`` columns (None = always).
    assignments: for update/insert — dict of target column -> SQL expression
    over ``source.``/``target.``, or the string '*' meaning "take the
    same-named source column for every target column" (the reference's
    ``UPDATE SET * / INSERT *``, ``notebooks/demo-notebook.py:277,279``;
    source columns absent from the target are ignored, as in Delta).
    """

    kind: str
    condition: str | None = None
    assignments: dict[str, str] | str | None = None


class LakeTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)

    # ---------------------------------------------------------------- basics

    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        schema: StructType,
        properties: dict | None = None,
        if_not_exists: bool = False,
        partition_by: list[str] | None = None,
    ) -> "LakeTable":
        """Create a table. ``partition_by`` columns get hive directory layout
        — at scale, the partition key (e.g. a date) is what turns a full
        scan into a pruned one (the reference's tables are unpartitioned;
        SURVEY.md §4 flags this as the first 100 TB change)."""
        t = LakeTable(spark, path)
        if lakelog.read_log(t.path):
            if if_not_exists:
                return t
            raise ValueError(f"lake table already exists at {t.path}")
        props = LakeTable._derive_definition_props(
            schema, properties, partition_by
        )
        # a recreate at a dropped table's path must not inherit the old
        # incarnation's cached checkpoint cadence
        lakelog.invalidate_ckpt_interval(t.path)
        os.makedirs(t.path, exist_ok=True)
        lakelog.write_commit(
            t.path,
            Commit(
                version=0,
                operation="CREATE",
                timestamp_ms=lakelog.now_ms(),
                schema_json=schema.json(),
                properties=props,
            ),
        )
        return t

    @staticmethod
    def convert_from_parquet(
        spark: SparkSession,
        path: str,
        stats_columns: list[str] | None = None,
        properties: dict | None = None,
        partition_types: dict[str, str] | None = None,
    ) -> "LakeTable":
        """CONVERT TO LAKE (Delta's ``CONVERT TO DELTA parquet.`path```):
        adopt an existing parquet directory IN PLACE — zero data rewrite.
        The schema comes from the parquet footers (one metadata read, no
        scan), per-file row counts and requested per-column min/max stats
        come from the footers too, hive partition directories are detected
        and recorded as the table's partition columns, and one commit
        lists every file. From that commit on the directory is a full lake
        table: MERGE/UPDATE/DELETE/OPTIMIZE/time travel all work, and the
        original files are only ever REMOVED from the snapshot (then
        reclaimed by VACUUM), never mutated.

        At 100 TB this is the migration path: cost is O(files) footer
        reads — parallelizable, no data movement — instead of a rewrite
        of the whole corpus."""
        import pyarrow.parquet as pq

        t = LakeTable(spark, path)
        if lakelog.read_log(t.path):
            raise ValueError(f"already a lake table: {t.path}")
        data_files: list[str] = []
        part_cols: list[str] = []
        for dirpath, _dirs, names in os.walk(t.path):
            for name in sorted(names):
                if not name.endswith(".parquet"):
                    continue
                full = os.path.join(dirpath, name)
                rel = os.path.relpath(full, t.path)
                # Spark's hidden-file filter: any path segment starting
                # with '_' or '.' (_temporary/, .hive-staging, _SUCCESS
                # siblings, dot-files) is invisible to spark.read — a
                # crashed job's partial files must not become table data
                if any(
                    s.startswith(("_", ".")) for s in rel.split(os.sep)
                ):
                    continue
                data_files.append(rel)
                segs = [s for s in rel.split(os.sep)[:-1] if "=" in s]
                cols = [s.partition("=")[0] for s in segs]
                if cols and not part_cols:
                    part_cols = cols
        if not data_files:
            raise ValueError(f"no parquet files under {t.path}")
        # Schema from footers via Spark's own reader (merges footer
        # schemas, recovers hive partition columns); no data scan.
        # Partition-column TYPE inference is disabled for the read:
        # hive directory values are strings on disk and inference can
        # collapse distinct source partitions (day=01 and day=1 both
        # infer to int 1 — unrecoverable). Delta's CONVERT requires an
        # explicit partition schema for the same reason; callers wanting
        # typed partition columns pass ``partition_types``.
        with conf_scope(spark, _NO_PARTITION_INFERENCE):
            schema = spark.read.parquet(t.path).schema
        if partition_types:
            unknown = [c for c in partition_types if c not in part_cols]
            if unknown:
                raise ValueError(
                    f"partition_types for non-partition columns: {unknown}"
                )
            schema = StructType(
                [
                    StructField(
                        f.name,
                        StructType.fromDDL(
                            f"x {partition_types[f.name]}"
                        ).fields[0].dataType,
                        f.nullable,
                    )
                    if f.name in partition_types
                    else f
                    for f in schema.fields
                ]
            )
        stat_cols = set(stats_columns or [])
        adds = []
        for rel in data_files:
            meta = pq.read_metadata(os.path.join(t.path, rel))
            add: dict = {"path": rel, "rows": meta.num_rows}
            stats = _footer_stats(meta, stat_cols)
            if stats:
                add["stats"] = stats
            adds.append(add)
        props = dict(properties or {})
        if stats_columns:
            props.setdefault("statsColumns", ",".join(stats_columns))
        if part_cols:
            props["partitionBy"] = ",".join(part_cols)
        lakelog.write_commit(
            t.path,
            Commit(
                version=0,
                operation="CONVERT",
                timestamp_ms=lakelog.now_ms(),
                add=adds,
                schema_json=schema.json(),
                properties=props,
                metrics={
                    "num_files": len(adds),
                    "num_rows": sum(a["rows"] for a in adds),
                },
            ),
        )
        return t

    @staticmethod
    def _derive_definition_props(
        schema: StructType,
        properties: dict | None,
        partition_by: list[str] | None,
    ) -> dict:
        """Table-definition property derivation shared by CREATE and
        REPLACE: hive partition layout, the implicit null-safe-equality
        CHECK behind every generated column (writers that PROVIDE the
        column are held to the generation expression by the ordinary
        staged-file gate, while _align computes it when absent), and
        identity columns auto-listed in statsColumns so the high-water
        mark after each append comes FREE from the parquet footers."""
        props = dict(properties or {})
        if partition_by:
            missing = [c for c in partition_by if c not in schema.fieldNames()]
            if missing:
                raise ValueError(f"partition columns not in schema: {missing}")
            props["partitionBy"] = ",".join(partition_by)
        for k, expr in list(props.items()):
            if k.startswith("generated."):
                gcol = k[len("generated."):]
                if gcol not in schema.fieldNames():
                    raise ValueError(f"generated column not in schema: {gcol}")
                props.setdefault(
                    CONSTRAINT_PREFIX + f"gen_{gcol}", f"`{gcol}` <=> ({expr})"
                )
        id_cols = [
            k[len("identity."):] for k in props if k.startswith("identity.")
        ]
        for icol in id_cols:
            if icol not in schema.fieldNames():
                raise ValueError(f"identity column not in schema: {icol}")
            if f"generated.{icol}" in props:
                raise ValueError(f"{icol} cannot be both generated and identity")
        if id_cols:
            existing = [
                c.strip()
                for c in str(props.get("statsColumns", "")).split(",")
                if c.strip()
            ]
            props["statsColumns"] = ",".join(
                existing + [c for c in id_cols if c not in existing]
            )
        feats = _reader_features_from_props(props) | {
            f
            for f in str(props.get("protocol.readerFeatures", "")).split(",")
            if f
        }
        if feats:
            props["protocol.readerFeatures"] = ",".join(sorted(feats))
        return props

    def replace_definition(
        self,
        schema: StructType,
        properties: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> int:
        """REPLACE TABLE (the second half of CREATE OR REPLACE): one atomic
        commit that drops every live file, installs the new schema, and
        REPLACES the table properties (old keys not re-declared are
        tombstoned in the state fold — Delta's REPLACE resets the
        definition rather than merging it; the one exception is
        ``txn.<app_id>`` SetTransaction guards, which are replay state,
        not configuration, and survive). History survives: time travel
        to pre-replace versions projects the old schema and data, and
        identity high-water marks reset with the definition."""
        commits = self._commits()
        # checkpoint-aware active set, NOT a fold over self._commits():
        # after cleanup_log() truncates the log, files added before the
        # retention boundary but still active survive only in the pinned
        # checkpoint — a commit-list fold would miss them and REPLACE
        # would leave their rows live under the new definition
        state = self._state()
        removed = list(state["active"])
        dvmap = state.get("dv") or {}
        props = LakeTable._derive_definition_props(
            schema, properties, partition_by
        )
        # txn.<app_id> SetTransaction guards survive REPLACE (Delta
        # semantics: they are replay-idempotency state, not table
        # configuration — wiping them would let a crash-replay re-apply a
        # pre-replace batch, double-counting additive merges). Identity
        # high-water marks (identityHighWater.*) DO reset with the
        # definition, as documented.
        tombstones = {
            k: None
            for k in self.properties()
            if k not in props and not k.startswith("txn.")
        }
        v = commits[-1].version + 1
        lakelog.write_commit(
            self.path,
            Commit(
                version=v,
                operation="REPLACE",
                timestamp_ms=lakelog.now_ms(),
                remove=removed + self._dv_release(removed, dvmap),
                schema_json=schema.json(),
                properties={**tombstones, **props},
                metrics={"num_removed_files": len(removed)},
            ),
        )
        return v

    def clone(self, dest_path: str, shallow: bool = True) -> "LakeTable":
        """CLONE (Delta's ``CREATE TABLE ... [SHALLOW|DEEP] CLONE src``).

        Shallow: the clone's version-0 commit references the source
        snapshot's data files BY PATH (zero bytes copied — metadata-only,
        O(files) regardless of table size). The clone then evolves
        independently: appends/merges write into the clone's own data dir,
        and VACUUM on the clone never walks the source directory, so it
        cannot delete source files. The standard shallow-clone hazard is
        inherited from Delta: VACUUM on the SOURCE can remove files a
        shallow clone still references.

        Deep: data files are byte-copied into the clone (an independent
        table; source vacuum-safe). On an object store the copy is a
        server-side per-file copy — still O(files) driver work.

        Schema, table properties (including CHECK constraints and CDF
        enablement), and per-file stats carry over; history does not (the
        clone starts at version 0, like Delta).
        """
        dest = os.path.abspath(dest_path)
        if lakelog.read_log(dest):
            raise ValueError(f"lake table already exists at {dest}")
        state = self._state()
        src_dv = state.get("dv") or {}
        os.makedirs(dest, exist_ok=True)
        adds = []
        clone_dv: dict = {}
        copied_dv: dict = {}  # source dv rel -> clone dv rel (deep)
        for rel, add in state["active"].items():
            entry = dict(add)
            src_file = self._abs(rel)
            if shallow:
                entry["path"] = os.path.relpath(src_file, dest)
            else:
                # preserve the path BELOW the data/ segment (uuid dir +
                # hive partition dirs): flattening it into one filename
                # would lose the partition directories, so every partition
                # column in the deep clone would read back NULL — and the
                # preserved suffix keeps the files' deletion-vector keys
                # (_dv_key) identical to the source's sidecar rows
                rel_dest = os.path.join(
                    DATA_DIR, "clone0", DATA_DIR, self._dv_key(rel)
                )
                full_dest = os.path.join(dest, rel_dest)
                os.makedirs(os.path.dirname(full_dest), exist_ok=True)
                shutil.copyfile(src_file, full_dest)
                entry["path"] = rel_dest
            adds.append(entry)
            # deletion vectors are part of the snapshot: a clone without
            # them would resurrect every DV-deleted row
            if rel in src_dv:
                src_sidecar = src_dv[rel]
                if shallow:
                    clone_dv[entry["path"]] = os.path.relpath(
                        self._abs(src_sidecar), dest
                    )
                else:
                    if src_sidecar not in copied_dv:
                        dv_dest_rel = os.path.join(
                            DV_DIR, "clone0", os.path.basename(src_sidecar)
                        )
                        dv_dest = os.path.join(dest, dv_dest_rel)
                        src_abs = self._abs(src_sidecar)
                        if os.path.isdir(src_abs):
                            shutil.copytree(src_abs, dv_dest)
                        else:
                            os.makedirs(os.path.dirname(dv_dest), exist_ok=True)
                            shutil.copyfile(src_abs, dv_dest)
                        copied_dv[src_sidecar] = dv_dest_rel
                    clone_dv[entry["path"]] = copied_dv[src_sidecar]
        props = dict(state["properties"])
        props["clonedFrom"] = self.path
        props["cloneShallow"] = "true" if shallow else "false"
        lakelog.write_commit(
            dest,
            Commit(
                version=0,
                operation="CLONE",
                timestamp_ms=lakelog.now_ms(),
                add=adds,
                dv=clone_dv,
                schema_json=state["schema_json"],
                properties=props,
                metrics={"num_files": len(adds), "shallow": shallow},
            ),
        )
        return LakeTable(self.spark, dest)

    @staticmethod
    def exists(path: str) -> bool:
        return bool(lakelog.read_log(os.path.abspath(path)))

    @staticmethod
    def drop(path: str) -> None:
        p = os.path.abspath(path)
        if os.path.isdir(p):
            shutil.rmtree(p)
        lakelog.invalidate_ckpt_interval(p)

    def _commits(self) -> list[Commit]:
        """Full commit history — audit paths only (history/change feed);
        state reconstruction goes through the checkpointed ``_state``.

        Memoized on the latest version (one directory listing), like
        ``_state``: a streaming catch-up calls the audit paths once per
        processed commit, and re-parsing the whole log each time made
        catch-up O(commits²) file reads. Treat the returned list as
        READ-ONLY."""
        commit_vs, _ = lakelog.list_versions(self.path)
        if not commit_vs:
            raise ValueError(f"not a lake table: {self.path}")
        latest = commit_vs[-1]
        cached = getattr(self, "_commits_memo", None)
        if cached is not None and cached[0] == latest:
            return cached[1]
        commits = lakelog.read_log(self.path)
        if not commits:
            raise ValueError(f"not a lake table: {self.path}")
        self._commits_memo = (latest, commits)
        return commits

    def _state(self, version: int | None = None) -> dict:
        """Table state (active files, schema, properties, dv). The returned
        dict is shared via a version-keyed cache — treat it as READ-ONLY.

        One write operation consults state many times (schema, partition
        columns, constraints, bloom/stats columns, dv map...); without the
        cache each consult re-parses the whole commit tail. The cache key
        is the latest commit version (one directory listing), so any
        commit — ours or a concurrent writer's — invalidates it.
        """
        if version is None:
            commit_vs, _ = lakelog.list_versions(self.path)
            if not commit_vs:
                raise ValueError(f"not a lake table: {self.path}")
            latest = commit_vs[-1]
            cached = getattr(self, "_state_memo", None)
            if cached is not None and cached[0] == latest:
                return cached[1]
            state = lakelog.table_state(self.path, latest)
            if state is None:
                raise ValueError(f"not a lake table: {self.path}")
            self._check_reader_features(state)
            self._state_memo = (latest, state)
            return state
        state = lakelog.table_state(self.path, version)
        if state is None:
            raise ValueError(f"not a lake table: {self.path}")
        self._check_reader_features(state)
        return state

    def _check_reader_features(self, state: dict) -> None:
        """Protocol gate: refuse to interpret a table whose recorded
        reader features include one this engine doesn't know — a reader
        that ignores an unknown read-semantics feature (a future deletion
        encoding, a new column-mapping mode) would silently return wrong
        rows. Delta's reader-version/table-features contract."""
        feats = {
            f
            for f in str(
                state["properties"].get("protocol.readerFeatures", "")
            ).split(",")
            if f
        }
        unknown = feats - SUPPORTED_READER_FEATURES
        if unknown:
            raise ValueError(
                f"table at {self.path} requires reader feature(s) "
                f"{sorted(unknown)} this engine does not support "
                f"(supported: {sorted(SUPPORTED_READER_FEATURES)})"
            )

    def version(self) -> int:
        commit_vs, _ = lakelog.list_versions(self.path)
        if not commit_vs:
            raise ValueError(f"not a lake table: {self.path}")
        return commit_vs[-1]

    def schema(self) -> StructType:
        schema_json = self._state()["schema_json"]
        if not schema_json:
            raise ValueError("no schema recorded")
        return StructType.fromJson(__import__("json").loads(schema_json))

    def properties(self) -> dict:
        return dict(self._state()["properties"])

    def cdf_enabled(self) -> bool:
        return str(self.properties().get("enableChangeDataFeed", "false")).lower() == "true"

    def dv_enabled(self) -> bool:
        """Deletion vectors (Delta's ``enableDeletionVectors``): DELETE and
        UPDATE mark rows in a sidecar instead of rewriting data files."""
        return (
            str(self.properties().get("enableDeletionVectors", "false")).lower()
            == "true"
        )

    def row_tracking_enabled(self) -> bool:
        """Row tracking (Delta's ``enableRowTracking``): every row carries a
        stable ``_row_id`` that survives OPTIMIZE/MERGE/UPDATE rewrites,
        deletion-vector deletes, RESTORE, and CLONE. Fresh rows draw ids
        from the commit log's monotone high-water mark (the state fold
        assigns each add entry a ``base``; an unrewritten row's id is
        base + its position in the file); rewrite paths MATERIALIZE the
        ids into a physical ``__row_id`` column of the rewritten files, so
        the derived and materialized forms coexist per file and reads
        coalesce them."""
        return (
            str(self.properties().get("enableRowTracking", "false")).lower()
            == "true"
        )

    def _row_base_map(self, state: dict) -> dict[str, int]:
        """{file dv-key: base row id} for every active file — the read-side
        lookup behind derived row ids. Metadata-scale (O(files))."""
        return {
            self._dv_key(rel): a.get("base", 0)
            for rel, a in state["active"].items()
        }

    # ---------------------------------------------------------- constraints

    def constraints(self) -> dict[str, str]:
        """Active CHECK constraints as {name: sql_expr}. Empty-valued
        property entries are DROP tombstones and excluded."""
        return {
            k[len(CONSTRAINT_PREFIX):]: v
            for k, v in self.properties().items()
            if k.startswith(CONSTRAINT_PREFIX) and v
        }

    def add_constraint(self, name: str, expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT name CHECK (expr).

        Existing rows are validated first (one pushdown-friendly probe over
        the current snapshot — Delta does the same full-table check), so a
        constraint can never be added that the table already violates.
        Returns the new version. SQL CHECK semantics: only rows where the
        expression is FALSE violate; NULL passes.
        """
        if name in self.constraints():
            raise ValueError(f"constraint already exists: {name}")
        snapshot_version = self.version()
        if self.files():
            bad = (
                self.to_df()
                .where(~F.coalesce(F.expr(expr), F.lit(True)))
                .limit(1)
                .collect()
            )
            if bad:
                raise ConstraintViolationError(
                    f"existing rows violate CHECK ({expr}): {bad[0]}"
                )
        v = snapshot_version + 1
        lakelog.write_commit(
            self.path,
            Commit(
                version=v,
                operation="ADD CONSTRAINT",
                timestamp_ms=lakelog.now_ms(),
                properties={CONSTRAINT_PREFIX + name: expr},
                metrics={"name": name},
            ),
        )
        return v

    def add_not_null(self, col: str) -> int:
        """NOT NULL column invariant, recorded as CHECK (col IS NOT NULL)."""
        if col not in self.schema().fieldNames():
            raise ValueError(f"no such column: {col}")
        return self.add_constraint(f"nn_{col}", f"`{col}` IS NOT NULL")

    def drop_constraint(self, name: str) -> int:
        """ALTER TABLE DROP CONSTRAINT name (tombstones the property)."""
        if name not in self.constraints():
            raise ValueError(f"no such constraint: {name}")
        v = self.version() + 1
        lakelog.write_commit(
            self.path,
            Commit(
                version=v,
                operation="DROP CONSTRAINT",
                timestamp_ms=lakelog.now_ms(),
                properties={CONSTRAINT_PREFIX + name: ""},
                metrics={"name": name},
            ),
        )
        return v

    def history(self) -> list[dict]:
        return [
            {
                "version": c.version,
                "operation": c.operation,
                "timestamp_ms": c.timestamp_ms,
                "metrics": c.metrics,
            }
            for c in self._commits()
        ]

    def detail(self) -> dict:
        """DESCRIBE DETAIL — one metadata row summarizing the live
        snapshot: location, file count/bytes, partition columns,
        properties, created/last-modified commit times, current version.
        Reads only the commit log and file metadata (no data scan)."""
        commits = self._commits()
        state = self._state()
        files = [self._abs(r) for r in state["active"]]
        size = 0
        for f in files:
            try:
                size += os.path.getsize(f)
            except OSError:
                pass
        props = self.properties()
        return {
            "format": "lake-parquet",
            "location": self.path,
            "numFiles": len(files),
            "sizeInBytes": size,
            "partitionColumns": self.partition_columns(),
            "properties": props,
            "createdAt_ms": commits[0].timestamp_ms if commits else None,
            "lastModified_ms": commits[-1].timestamp_ms if commits else None,
            "version": self.version(),
        }

    # ---------------------------------------------------------------- reads

    def _abs(self, rel: str) -> str:
        return os.path.join(self.path, rel)

    def files(self, version: int | None = None) -> list[str]:
        return [self._abs(r) for r in self._state(version)["active"]]

    def generate_manifest(self, version: int | None = None) -> str:
        """Write the external-reader escape hatch: a manifest of the live
        snapshot's parquet file paths, one absolute path per line, at
        ``_symlink_format_manifest/manifest`` — the same contract as Delta's
        ``GENERATE symlink_format_manifest`` (the reference's storage layer
        exposes this for Presto/Trino readers). Any engine that can read a
        parquet file list can then read the snapshot without understanding
        the commit log, e.g. DuckDB::

            paths = [l.strip() for l in open(manifest) if l.strip()]
            con.execute("SELECT * FROM read_parquet(?, union_by_name=true)",
                        [paths])

        ``union_by_name`` matters after additive schema evolution: files
        written before a new column simply lack it and read as NULL.
        The manifest is a point-in-time EXPORT of one snapshot, not a live
        view — regenerate after commits (Delta's manifest has the same
        staleness contract). Partitioned tables keep hive-style paths, so
        ``hive_partitioning`` recovers partition columns.
        """
        if self._state(version).get("dv"):
            # a file-list manifest cannot express row-level deletion
            # vectors; external readers would resurrect deleted rows
            # (Delta's symlink manifest has the same DV incompatibility,
            # surfaced as an error there too)
            raise ValueError(
                "cannot generate a symlink manifest for a snapshot with "
                "deletion vectors: run compact() first to materialize them"
            )
        if any(self._physical_name(f) != f.name for f in self.schema().fields):
            # external readers see the files' PHYSICAL column names; a
            # renamed table would silently surface stale names (Delta
            # blocks symlink manifests under column mapping the same way)
            raise ValueError(
                "cannot generate a symlink manifest for a column-mapped "
                "(renamed) table: external readers would see physical names"
            )
        manifest_dir = self._abs("_symlink_format_manifest")
        os.makedirs(manifest_dir, exist_ok=True)
        out = os.path.join(manifest_dir, "manifest")
        tmp = out + ".tmp"
        with open(tmp, "w") as f:
            for p in sorted(self.files(version)):
                f.write(p + "\n")
        os.replace(tmp, out)
        return out

    def partition_columns(self) -> list[str]:
        cols = self.properties().get("partitionBy", "")
        return [c for c in cols.split(",") if c] if isinstance(cols, str) else list(cols)

    # ------------------------------------------------------- column mapping

    @staticmethod
    def _physical_name(field) -> str:
        """Physical (on-disk) column name: original creation-time name,
        carried in field metadata once the logical name diverges via
        RENAME COLUMN (Delta's column-mapping ``physicalName``)."""
        return (field.metadata or {}).get("physical", field.name)

    def _physical_schema(self, schema: StructType) -> StructType:
        return StructType(
            [
                StructField(self._physical_name(f), f.dataType, f.nullable)
                for f in schema.fields
            ]
        )

    def _to_logical(self, df: DataFrame, schema: StructType, extra: list[str] = ()):
        """Rename a physically-named frame to logical names, preserving any
        extra (non-schema) columns by name.

        Built as ONE selectExpr over SQL strings: the per-column
        ``F.col().alias()`` chain paid 2-3 py4j round trips per column on
        a path that runs for EVERY table read (profiled as a top driver
        cost of the merge-heavy scenario keys — guide §5, the driver
        should do almost no per-call work)."""
        exprs = [
            f"`{_bq(self._physical_name(f))}` AS `{_bq(f.name)}`"
            for f in schema.fields
        ] + [f"`{_bq(c)}`" for c in extra]
        return df.selectExpr(*exprs)

    def _to_physical(self, df: DataFrame, schema: StructType) -> DataFrame:
        present = set(df.columns)
        cols = [
            (
                f"CAST(`{_bq(f.name)}` AS {f.dataType.simpleString()})"
                if f.name in present
                else f"CAST(NULL AS {f.dataType.simpleString()})"
            )
            + f" AS `{_bq(self._physical_name(f))}`"
            for f in schema.fields
        ]
        extras = [
            f"`{_bq(c)}`"
            for c in df.columns
            if c not in {f.name for f in schema.fields}
        ]
        return df.selectExpr(*cols, *extras)

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN old TO new — metadata-only (no data
        rewrite): the field keeps its physical name and gains the new
        logical one, exactly Delta's column-mapping rename. Restrictions
        (same as Delta): partition columns and columns referenced by CHECK
        constraints or statsColumns cannot be renamed without first
        dropping the dependent object.
        """
        schema = self.schema()
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"no such column: {old}")
        if new in names:
            raise ValueError(f"column already exists: {new}")
        if old in self.partition_columns():
            raise ValueError(
                f"cannot rename partition column {old} (hive directory names "
                "are physical)"
            )
        for cname, expr in self.constraints().items():
            if re.search(rf"\b{re.escape(old)}\b", expr):
                raise ValueError(
                    f"cannot rename {old}: referenced by CHECK constraint "
                    f"{cname} ({expr}) — drop the constraint first"
                )
        if old in self.stats_columns():
            raise ValueError(
                f"cannot rename {old}: listed in statsColumns — update the "
                "property first"
            )
        new_fields = []
        for f in schema.fields:
            if f.name == old:
                meta = dict(f.metadata or {})
                meta.setdefault("physical", f.name)
                new_fields.append(
                    StructField(new, f.dataType, f.nullable, metadata=meta)
                )
            else:
                new_fields.append(f)
        v = self.version() + 1
        # the first rename activates column mapping (files keep physical
        # names): a reader without it would project the renamed column as
        # missing — record the protocol feature in the same commit
        current = {
            f
            for f in str(
                self.properties().get("protocol.readerFeatures", "")
            ).split(",")
            if f
        }
        lakelog.write_commit(
            self.path,
            Commit(
                version=v,
                operation="RENAME COLUMN",
                timestamp_ms=lakelog.now_ms(),
                schema_json=StructType(new_fields).json(),
                properties={
                    "protocol.readerFeatures": ",".join(
                        sorted(current | {"columnMapping"})
                    )
                },
                metrics={"from": old, "to": new},
            ),
        )
        return v

    def add_columns(self, cols: list[tuple[str, "DataType"]]) -> int:
        """ALTER TABLE ADD COLUMNS — metadata-only schema widening (no data
        rewrite): existing files read the new columns as NULL
        (schema-on-read), exactly the additive-evolution path
        ``append(merge_schema=True)`` already uses; this is the explicit
        DDL spelling. New columns are nullable by definition (old rows
        cannot have values)."""
        schema = self.schema()
        names = {f.name for f in schema.fields}
        for name, _ in cols:
            if name in names:
                raise ValueError(f"column already exists: {name}")
        new_fields = schema.fields + [
            StructField(name, dtype, True) for name, dtype in cols
        ]
        v = self.version() + 1
        lakelog.write_commit(
            self.path,
            Commit(
                version=v,
                operation="ADD COLUMNS",
                timestamp_ms=lakelog.now_ms(),
                schema_json=StructType(new_fields).json(),
                metrics={"added": [n for n, _ in cols]},
            ),
        )
        return v

    def drop_column(self, col: str) -> int:
        """ALTER TABLE DROP COLUMN — metadata-only logical removal (Delta's
        column-mapping drop): the physical data stays in the files, reads
        simply stop projecting it. Same dependency restrictions as rename:
        partition columns, constraint-referenced columns, statsColumns,
        and generated/identity columns must have their dependents dropped
        first."""
        schema = self.schema()
        if col not in {f.name for f in schema.fields}:
            raise ValueError(f"no such column: {col}")
        if len(schema.fields) == 1:
            raise ValueError("cannot drop the only column")
        if col in self.partition_columns():
            raise ValueError(f"cannot drop partition column {col}")
        for cname, expr in self.constraints().items():
            if re.search(rf"\b{re.escape(col)}\b", expr):
                raise ValueError(
                    f"cannot drop {col}: referenced by CHECK constraint "
                    f"{cname} ({expr}) — drop the constraint first"
                )
        if col in self.stats_columns():
            raise ValueError(
                f"cannot drop {col}: listed in statsColumns — update the "
                "property first"
            )
        if col in self.generated_columns() or col in self.identity_columns():
            raise ValueError(
                f"cannot drop {col}: it is a generated/identity column — "
                "remove the property first"
            )
        new_fields = [f for f in schema.fields if f.name != col]
        v = self.version() + 1
        lakelog.write_commit(
            self.path,
            Commit(
                version=v,
                operation="DROP COLUMN",
                timestamp_ms=lakelog.now_ms(),
                schema_json=StructType(new_fields).json(),
                metrics={"dropped": col},
            ),
        )
        return v

    _STRUCTURAL_PROPS = ("partitionBy",)

    def set_properties(self, props: dict) -> int:
        """ALTER TABLE SET TBLPROPERTIES — a metadata commit merging the
        given properties into the table's (e.g. enabling the change feed or
        statsColumns later in a table's life). Structural properties that
        reads depend on for file layout (``partitionBy``) and identity
        bookkeeping cannot be changed after creation."""
        for k in props:
            if (
                k in self._STRUCTURAL_PROPS
                or k.startswith("identity.")
                or k.startswith("generated.")
            ):
                # generated.* is creation-time-only too: create() installs
                # the implicit CHECK that holds writers to the generation
                # expression; a post-hoc SET would yield a half-enforced
                # column (computed when absent, never gate-checked when
                # supplied)
                raise ValueError(f"property {k} is fixed at table creation")
        out = {k: str(val) for k, val in props.items()}
        # enabling a read-semantics feature mid-life records it in the
        # protocol (union with whatever is already active)
        feats = _reader_features_from_props(out)
        if feats:
            current = {
                f
                for f in str(
                    self.properties().get("protocol.readerFeatures", "")
                ).split(",")
                if f
            }
            out["protocol.readerFeatures"] = ",".join(sorted(feats | current))
        v = self.version() + 1
        lakelog.write_commit(
            self.path,
            Commit(
                version=v,
                operation="SET TBLPROPERTIES",
                timestamp_ms=lakelog.now_ms(),
                properties=out,
            ),
        )
        return v

    def unset_properties(self, keys: list[str]) -> int:
        """ALTER TABLE UNSET TBLPROPERTIES — removes properties via None
        markers in the commit (same restrictions as set_properties)."""
        for k in keys:
            if (
                k in self._STRUCTURAL_PROPS
                or k.startswith("identity.")
                or k.startswith("generated.")
            ):
                raise ValueError(f"property {k} is fixed at table creation")
        v = self.version() + 1
        lakelog.write_commit(
            self.path,
            Commit(
                version=v,
                operation="UNSET TBLPROPERTIES",
                timestamp_ms=lakelog.now_ms(),
                properties={k: None for k in keys},
            ),
        )
        return v

    def analyze(
        self, columns: list[str] | None = None, exact_ndv: bool = False
    ) -> dict:
        """ANALYZE TABLE COMPUTE STATISTICS [FOR COLUMNS ...] — one full
        scan computing the table row count plus per-column non-null count,
        NDV, and min/max, persisted as a ``stats.json`` table property in a
        metadata commit so later sessions (and the SQL front-end's join
        planning) read them without rescanning.

        ``exact_ndv=False`` (default) uses ``approx_count_distinct`` — an
        HLL sketch that partial-aggregates map-side, so the scan stays one
        pass with a metadata-size shuffle regardless of cardinality. Exact
        NDV (``countDistinct``) over k columns plans an Expand that
        multiplies scan rows by k before the shuffle — fine at test scale
        and for oracle checks, the wrong default at 100 TB.

        Stand-in for ``ANALYZE TABLE ... COMPUTE STATISTICS``, the stats
        source Spark's CBO and Delta's data skipping consult."""
        schema = self.schema()
        names = (
            list(columns)
            if columns is not None
            else [f.name for f in schema.fields]
        )
        known = set(schema.fieldNames())
        bad = [c for c in names if c not in known]
        if bad:
            raise ValueError(f"ANALYZE columns not in schema: {bad}")
        ndv = F.countDistinct if exact_ndv else F.approx_count_distinct
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in names:
            aggs += [
                F.count(F.col(c)).alias(f"__nn_{c}"),
                ndv(F.col(c)).alias(f"__ndv_{c}"),
                F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
                F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
            ]
        row = self.to_df().agg(*aggs).collect()[0]
        fresh = {
            c: {
                "nonNull": row[f"__nn_{c}"],
                "ndv": row[f"__ndv_{c}"],
                "min": row[f"__mn_{c}"],
                "max": row[f"__mx_{c}"],
            }
            for c in names
        }
        # FOR COLUMNS augments: merge into previously analyzed columns
        # (re-analyzed ones refresh) instead of discarding them
        prior = self.table_stats() or {}
        columns = {**prior.get("columns", {}), **fresh}
        columns = {c: s for c, s in columns.items() if c in known}
        stats = {"numRows": row["__rows"], "columns": columns}
        self.set_properties({"stats.json": json.dumps(stats, sort_keys=True)})
        return stats

    def table_stats(self) -> dict | None:
        """The last ANALYZE result recorded on this table, or None."""
        raw = self.properties().get("stats.json")
        return json.loads(raw) if raw else None

    def copied_files(self) -> set[str]:
        """Source files already ingested by ``copy_into`` (absolute paths),
        reconstructed from the commit history's COPY INTO entries. An
        audit-path read (O(commits), like ``history()``)."""
        loaded: set[str] = set()
        for c in self._commits():
            if c.operation == "COPY INTO":
                loaded.update(c.metrics.get("source_files", []))
        return loaded

    def copy_into(
        self,
        source_path: str,
        file_format: str = "parquet",
        pattern: str = "*",
    ) -> dict:
        """``COPY INTO`` — idempotent batch file ingestion (Databricks'
        batch counterpart of Autoloader, and the load-side of the
        reference's incremental-ingest doctrine): each call lists
        ``source_path``, diffs against the files already ingested by
        PREVIOUS copy_into commits, and appends only the NEW files' rows.
        Re-running after a crash (or on a scheduler's at-least-once cron)
        loads nothing — exactly-once ingestion without a streaming
        checkpoint.

        Scale: the listing is directory metadata; the diff is a set
        difference over file names (O(files), driver-side like every
        commit-planning step); the data read touches only new files —
        O(new data), never O(table) or O(landing zone history).
        """
        import glob as _glob

        fmt = file_format.lower()
        if fmt not in ("parquet", "json", "csv", "orc"):
            raise ValueError(f"unsupported COPY INTO format: {file_format}")
        candidates = {
            os.path.abspath(f)
            for f in _glob.glob(os.path.join(source_path, pattern))
            if os.path.isfile(f) and not f.endswith((".crc", "_SUCCESS"))
        }
        new_files = sorted(candidates - self.copied_files())
        if not new_files:
            return {"num_files": 0, "num_rows": 0, "version": self.version()}
        # external landing files carry the LOGICAL column names (they are
        # written by producers against the table's user-facing schema);
        # _align in append() maps/casts into the table schema either way
        schema = self.schema()
        reader = self.spark.read
        # identity columns are GENERATED, never supplied: forcing them into
        # the read schema would make append() reject every COPY INTO on an
        # identity table (the schema-forced read "provides" the column)
        idcols = self.identity_columns()
        read_schema = StructType(
            [f for f in schema.fields if f.name not in idcols]
        )
        if fmt == "json":
            df = reader.schema(read_schema).json(new_files)
        elif fmt == "csv":
            # CSV is NOT self-describing: Spark applies a user schema
            # positionally (enforceSchema), so a landing file whose header
            # doesn't match the expected columns would silently shift every
            # value sideways instead of erroring. Validate each header
            # against the table schema by NAME (cheap: one line per file,
            # and the file list is already driver-side), then read with a
            # schema ordered like the header.
            import csv as _csv

            headers = {}
            for fpath in new_files:
                with open(fpath, newline="") as fh:
                    headers[fpath] = next(_csv.reader(fh), [])
            expected = {f.name for f in read_schema.fields}
            by_name = {f.name: f for f in schema.fields}
            header = headers[new_files[0]]
            for fpath, h in headers.items():
                if set(h) & set(idcols):
                    raise ValueError(
                        f"COPY INTO: {fpath} supplies GENERATED ALWAYS "
                        f"identity column(s) {sorted(set(h) & set(idcols))}"
                    )
                if set(h) != expected:
                    raise ValueError(
                        f"COPY INTO: {fpath} header {h} does not match "
                        f"table columns {sorted(expected)}"
                    )
                if h != header:
                    raise ValueError(
                        "COPY INTO: landing CSV files disagree on column "
                        f"order: {fpath} has {h}, {new_files[0]} has {header}"
                    )
            header_schema = StructType([by_name[c] for c in header])
            df = reader.schema(header_schema).option("header", "true").csv(new_files)
        elif fmt == "orc":
            df = reader.orc(*new_files)
        else:
            df = reader.parquet(*new_files)
        # (self-describing formats — parquet/orc — keep a genuinely present
        # identity column, so append's GENERATED ALWAYS guard still rejects
        # sources that explicitly supply values)
        # ONE atomic commit carries both the data and the ingested-file
        # list — a crash between "load" and "record" is impossible, which
        # is what makes the re-run idempotent.
        v = self.append(
            df,
            operation="COPY INTO",
            extra_metrics={"source_files": new_files},
        )
        # row count comes from the commit the append just wrote (parquet
        # footer totals) — a df.count() here would re-scan every new file
        n = lakelog.read_commit(self.path, v).metrics.get("num_inserted_rows", 0)
        return {"num_files": len(new_files), "num_rows": n, "version": v}

    @staticmethod
    def _dv_key(path: str) -> str:
        """Row-identity key of a data file for deletion vectors: the path
        suffix below the LAST ``data/`` segment (``<uuid>/[part=.../]name``).
        Unique per file — every staged write gets its own uuid dir —
        unlike the bare basename, which Spark REUSES across partition
        directories within one job (``dt=1/part-00000-x`` and
        ``dt=2/part-00000-x``): a basename key would silently apply one
        partition's deletion vector to its siblings."""
        segs = path.split(os.sep)
        idx = None
        for i in range(len(segs) - 1, -1, -1):
            if segs[i] == DATA_DIR:
                idx = i
                break
        return os.sep.join(segs[idx + 1:]) if idx is not None else segs[-1]

    def _dv_rows(self, dv_map: dict, files: list[str]) -> DataFrame | None:
        """Deleted-row markers (file_name, row_index) covering ``files``,
        or None when no DV applies. A DV parquet may also carry rows for a
        file whose pointer has since been superseded; those are a subset of
        the file's current cumulative DV, so reading them is harmless."""
        if not dv_map:
            return None
        names = {self._dv_key(f) for f in files}
        rels = sorted(
            {dv for rel, dv in dv_map.items() if self._dv_key(rel) in names}
        )
        if not rels:
            return None
        df = self.spark.read.parquet(*[self._abs(r) for r in rels])
        return df.where(F.col("file_name").isin(sorted(names)))

    @staticmethod
    def _lineage_cols() -> list:
        """Per-row physical identity: the containing file's ``_dv_key``
        (path suffix below the last ``data/`` segment — see there for why
        a bare basename would corrupt partitioned tables) + row position
        within the file (``_metadata.row_index``) — the key a deletion
        vector marks rows by."""
        return [
            F.substring_index(
                F.input_file_name(), "/" + DATA_DIR + "/", -1
            ).alias("__fname"),
            F.col("_metadata.row_index").alias("__pos"),
        ]

    def _read_files(
        self,
        files: list[str],
        dv_map: dict | None = None,
        with_lineage: bool = False,
        with_file: bool = False,
        schema: StructType | None = None,
        row_base: dict[str, int] | None = None,
    ) -> DataFrame:
        """Read a set of data files with the table schema.

        For partitioned tables the partition values live in the directory
        names (hive layout); reading with ``basePath`` recovers them as
        columns AND keeps Catalyst's partition pruning working — a filter on
        a partition column skips whole directories at planning time.

        ``dv_map`` ({data_rel: dv_rel}) subtracts deletion-vector-marked
        rows via a broadcast anti-join on (file basename, row position) —
        the read-side half of Delta's deletion vectors. Zero plan overhead
        when no DV covers the requested files. ``with_lineage=True`` keeps
        the ``__fname``/``__pos`` identity columns for callers that write
        new DVs; ``with_file=True`` keeps a ``__file`` source-URI column
        (``input_file_name`` must be captured BEFORE the DV anti-join —
        after it the plan has two file sources and the expression is
        rejected).
        """
        # ``schema``: the snapshot's schema for time-travel reads (a DROP/
        # ADD COLUMN later must not change what an old version projects);
        # defaults to the head schema.
        # ``row_base`` ({file dv-key: base row id}) turns on row-tracking
        # output: a ``_row_id`` column = the file's materialized
        # ``__row_id`` when present (rewritten files carry it physically),
        # else base + row position — Delta's row-id read rule.
        schema = schema or self.schema()
        dvr = self._dv_rows(dv_map or {}, files) if files else None
        need_lineage = with_lineage or dvr is not None or row_base is not None
        if not files:
            # range(0)-backed empty frame, NOT createDataFrame([], schema):
            # the latter is RDD-backed (LogicalRDD) whose size estimate is
            # the Long.MaxValue "unknown" sentinel, which poisons every
            # downstream micro-plan gate (maintenance_plan_scope, the merge
            # probe) that sums leaf sizes — an EMPTY table read must
            # estimate as zero bytes. Semantically identical.
            out = self.spark.range(0).select(
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in schema.fields
                ]
            )
            if with_lineage:
                out = out.withColumn("__fname", F.lit(None).cast("string")).withColumn(
                    "__pos", F.lit(None).cast("long")
                )
            if with_file:
                out = out.withColumn("__file", F.lit(None).cast("string"))
            if row_base is not None:
                out = out.withColumn("_row_id", F.lit(None).cast("long"))
            return out
        def extras() -> list:
            cols = []
            if with_file:
                cols.append(F.input_file_name().alias("__file"))
            if need_lineage:
                cols.extend(self._lineage_cols())
            return cols

        def finish(df: DataFrame) -> DataFrame:
            if dvr is not None:
                df = df.join(
                    F.broadcast(dvr),
                    (df["__fname"] == dvr["file_name"])
                    & (df["__pos"] == dvr["row_index"]),
                    "left_anti",
                )
            if row_base is not None:
                # ONE-slice parallelize: plain createDataFrame(list) slices
                # the driver-local metadata into defaultParallelism (32+)
                # partitions, so every broadcast build of this tiny frame
                # ran a 32-task stage — measured ~300 ms per row-id read
                bases = self.spark.createDataFrame(
                    self.spark.sparkContext.parallelize(
                        list(row_base.items()) or [(None, None)], 1
                    ),
                    StructType(
                        [
                            StructField("__bf", StringType()),
                            StructField("__base", LongType()),
                        ]
                    ),
                )
                df = (
                    df.join(
                        F.broadcast(bases),
                        df["__fname"] == bases["__bf"],
                        "left",
                    )
                    .withColumn(
                        "_row_id",
                        F.coalesce(
                            F.col("__row_id"), F.col("__base") + F.col("__pos")
                        ),
                    )
                    .drop("__bf", "__base", "__row_id")
                )
            if need_lineage and not with_lineage:
                df = df.drop("__fname", "__pos")
            return df

        # materialized-row-id column: requested on EVERY file; parquet
        # schema-on-read yields NULL for files that never materialized it
        rid_field = [StructField("__row_id", LongType())] if row_base is not None else []
        if self.partition_columns():
            data_fields = StructType(
                self._physical_schema(
                    StructType(
                        [
                            f
                            for f in schema.fields
                            if f.name not in self.partition_columns()
                        ]
                    )
                ).fields
                + rid_field
            )
            # Partition discovery requires one consistent non-partition
            # prefix per read; each commit stages under its own
            # data/<uuid>/ root, so group files by that root and union.
            groups: dict[str, list[str]] = {}
            for f in files:
                # The stage root is the data/<uuid>/ ancestor — located by
                # path segment so files referenced ACROSS table roots (a
                # shallow clone's pointers into its source) group under the
                # source's stage dir, keeping basePath an ancestor.
                segs = f.split(os.sep)
                idx = None
                for i in range(len(segs) - 2, -1, -1):
                    if segs[i] == DATA_DIR:
                        idx = i
                        break
                root = (
                    os.sep.join(segs[: idx + 2])
                    if idx is not None and idx + 2 < len(segs)
                    else self.path
                )
                groups.setdefault(root, []).append(f)
            out = None
            # partition values are read as STRINGS (inference off) and
            # cast to the committed schema type below: Spark's inference
            # would otherwise lossily re-type foreign hive values before
            # the cast (day=01 -> int 1 -> string "1", not "01"). The
            # discovery happens eagerly at .parquet(), so the scoped
            # toggle pins it.
            with conf_scope(self.spark, _NO_PARTITION_INFERENCE):
                raws = {
                    root: self.spark.read.schema(data_fields)
                    .option("basePath", root)
                    .parquet(*fs)
                    for root, fs in groups.items()
                }
            for root, raw in raws.items():
                present = set(raw.columns)
                cols = [
                    (
                        F.col(self._physical_name(f))
                        if self._physical_name(f) in present
                        else F.lit(None)
                    )
                    .cast(f.dataType)
                    .alias(f.name)
                    for f in schema.fields
                ]
                rid = [F.col("__row_id")] if row_base is not None else []
                df = raw.select(*cols, *rid, *extras())
                out = df if out is None else out.unionByName(df)
            return finish(out)
        raw = self.spark.read.schema(
            StructType(self._physical_schema(schema).fields + rid_field)
        ).parquet(*files)
        ex = extras()
        if ex:
            raw = raw.select("*", *ex)
        keep = [
            c
            for c in ("__file", "__fname", "__pos", "__row_id")
            if c in raw.columns
        ]
        raw = self._to_logical(raw, schema, extra=keep)
        return finish(raw)

    def version_at_timestamp(self, timestamp_ms: int) -> int:
        """Latest version committed at or before ``timestamp_ms`` — the
        lookup behind ``TIMESTAMP AS OF`` (Delta's companion to the
        reference's ``VERSION AS OF``, notebooks/demo-notebook.py:533-535).
        Pure log-metadata scan; no data files are touched."""
        best = None
        for c in self._commits():
            if c.timestamp_ms <= timestamp_ms:
                best = c.version
        if best is None:
            raise ValueError(
                f"no commit at or before {timestamp_ms} (table created later)"
            )
        return best

    def to_df(
        self,
        version: int | None = None,
        timestamp_ms: int | None = None,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """Snapshot as of ``version`` or ``timestamp_ms`` (default latest) —
        the time-travel read.

        Reference: ``SELECT * FROM tbl VERSION AS OF 1``
        (``notebooks/demo-notebook.py:533-535``); ``timestamp_ms`` is the
        ``TIMESTAMP AS OF`` equivalent.
        """
        if timestamp_ms is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp_ms, not both")
            version = self.version_at_timestamp(timestamp_ms)
        state = self._state(version)
        schema = None
        if version is not None and state.get("schema_json"):
            schema = StructType.fromJson(
                __import__("json").loads(state["schema_json"])
            )
        return self._read_files(
            [self._abs(r) for r in state["active"]],
            dv_map=state.get("dv") or None,
            schema=schema,
            row_base=self._row_base_map(state) if with_row_ids else None,
        )

    def to_df_pruned(
        self, ranges: dict[str, tuple], version: int | None = None
    ) -> DataFrame:
        """Stats-pruned snapshot read: the files of the (possibly
        historical) snapshot whose recorded min/max overlap the per-column
        ``(lo, hi)`` ranges — :meth:`files_matching` as a DataFrame. Files
        without stats are conservatively kept, so the result is a SUPERSET
        of the matching rows; callers must still apply the row-level
        predicate or join. This is the scan shape incremental join-view
        maintenance needs: the snapshot ⋈ Δbatch side reads only the files
        a batch's join-key range can touch, not the whole table."""
        state = self._state(version)
        schema = None
        if version is not None and state.get("schema_json"):
            schema = StructType.fromJson(
                __import__("json").loads(state["schema_json"])
            )
        return self._read_files(
            self.files_matching(ranges, version=version),
            dv_map=state.get("dv") or None,
            schema=schema,
        )

    # ---------------------------------------------------------------- writes

    def bloom_columns(self) -> list[str]:
        """Columns with a per-file bloom-filter index (``bloomFilterColumns``
        property) — point-predicate file skipping for high-cardinality,
        unclustered keys where min/max stats can't prune."""
        raw = self.properties().get("bloomFilterColumns", "")
        return [c.strip() for c in str(raw).split(",") if c.strip()]

    def bloom_bits(self) -> int:
        return int(self.properties().get("bloomFilterBits", "65536"))

    def stats_columns(self) -> list[str]:
        """Columns whose per-file min/max go into the commit log (for data
        skipping). Set via the ``statsColumns`` table property, e.g. the
        merge key — Delta keeps stats for the first 32 columns; we keep them
        opt-in and explicit."""
        cols = self.properties().get("statsColumns", "")
        return [c for c in cols.split(",") if c] if isinstance(cols, str) else list(cols)

    def _touched_rows_upper_bound(self, touched: list[str]) -> int:
        """Sum of the log-recorded row counts of ``touched`` (absolute-path)
        files — an upper bound on any rewrite of them (DV-masked rows are
        counted as live), used only to size optimized writes."""
        active = self._state()["active"]
        return sum(
            (active.get(self._rel_of(f)) or {}).get("rows", 0) for f in touched
        )

    def _optimized_write_partitions(self, expected_rows: int) -> int:
        """File-count target for an optimized write of ~``expected_rows``
        rows: ceil(rows / optimizedWrite.targetFileRows), clamped. The
        default matches :meth:`compact`'s sizing so rewrites land at the
        same file granularity OPTIMIZE would produce."""
        per_file = int(
            self.properties().get("optimizedWrite.targetFileRows", 4_000_000)
        )
        return max(1, min((expected_rows + per_file - 1) // per_file, 10_000))

    def _stage_write(
        self, df: DataFrame, expected_rows: int | None = None
    ) -> tuple[list[dict], int]:
        """Write df as parquet under data/<uuid>/ (hive-partitioned when the
        table declares partition columns), return (adds, rows). Per-file
        min/max stats for ``stats_columns()`` are read from the parquet
        footers (no data scan) and recorded in the add entries.

        ``expected_rows`` (when the caller knows the output size — rewrite
        paths read it from the commit log's per-file row counts) enables
        Delta-style OPTIMIZED WRITES: a repartition to
        ceil(expected/targetFileRows) tasks before the write, so a MERGE
        touching 2 files emits 1 right-sized file instead of one shard per
        shuffle partition. Without it a 1k-row rewrite under
        shuffle.partitions=200 writes 200 ~KB files, and every later read,
        probe, and CDF scan pays 200 file opens — the small-file problem
        that OPTIMIZE exists to undo; sizing at write time avoids creating
        it. Disable with TBLPROPERTIES optimizedWrite.enabled = false.
        An overestimate (e.g. DV-masked rows counted as live) only raises
        the file-count ceiling, never correctness."""
        if (
            expected_rows is not None
            and self.properties().get("optimizedWrite.enabled", "true")
            != "false"
        ):
            n = self._optimized_write_partitions(expected_rows)
            pcols = self.partition_columns()
            # partitioned tables hash on the partition columns so each
            # hive dir receives whole tasks (contiguous files), not a
            # shard from every task
            if pcols:
                df = df.repartition(n, *pcols)
            elif n == 1:
                # single-file output: coalesce merges the final stage into
                # one task with NO extra exchange (repartition(1) adds a
                # shuffle + an AQE query-stage job purely to move everything
                # to one partition — measurable fixed cost on the
                # micro-batch merge path, zero benefit since distribution
                # across 1 file is moot)
                df = df.coalesce(1)
            else:
                df = df.repartition(n)
        rel_dir = os.path.join(DATA_DIR, uuid.uuid4().hex)
        out = self._abs(rel_dir)
        cur_schema = self.schema()
        phys2log = {
            self._physical_name(f): f.name
            for f in cur_schema.fields
            if self._physical_name(f) != f.name
        }
        # column mapping: files always carry PHYSICAL names, so a renamed
        # column's old files stay readable without rewrite
        writer = self._to_physical(df, cur_schema).write.mode("overwrite")
        if self.partition_columns():
            writer = writer.partitionBy(*self.partition_columns())
        writer.parquet(out)
        # CHECK-constraint gate: validate the STAGED files (one cheap
        # columnar re-read of just-written rows — never a recompute of the
        # possibly-expensive input plan), then either let the caller commit
        # them or discard the stage and raise. Uniform across every write
        # path (append/overwrite/update/merge rewrite/compact); rewrites of
        # already-valid rows pass trivially. SQL semantics: a row violates
        # only when the expression is FALSE — NULL passes.
        cons = self.constraints()
        if cons:
            staged = self.spark.read.parquet(out)
            if phys2log:
                staged = staged.withColumnsRenamed(phys2log)
            viol = None
            for name, expr in cons.items():
                v = ~F.coalesce(F.expr(expr), F.lit(True))
                viol = v if viol is None else (viol | v)
            bad = staged.where(viol).limit(1).collect()
            if bad:
                shutil.rmtree(out, ignore_errors=True)
                fired = [
                    n
                    for n, e in cons.items()
                    if not _row_satisfies(bad[0], self.spark, staged.schema, e)
                ]
                raise ConstraintViolationError(
                    f"write violates CHECK constraint(s) {fired or list(cons)}: "
                    f"{bad[0]}"
                )
        # Bloom-filter index build (opt-in): one aggregation pass over the
        # STAGED files computing per-(file, column, seed) bit-position sets
        # — cost tracks the write size, like the constraint gate. Collected
        # volume is bounded by m bits per (file, column), not by row count.
        blooms: dict[str, dict[str, str]] = {}
        bcols = [
            c
            for c in self.bloom_columns()
            if c in {f.name for f in cur_schema.fields}
        ]
        if bcols:
            import base64

            m_bits = self.bloom_bits()
            st = self.spark.read.parquet(out)
            if phys2log:
                st = st.withColumnsRenamed(phys2log)
            fname = F.element_at(F.split(F.input_file_name(), "/"), -1).alias("__f")
            aggs = []
            for c in bcols:
                for si, seed in enumerate(BLOOM_SEEDS):
                    aggs.append(
                        F.collect_set(
                            F.pmod(
                                F.xxhash64(F.col(c), F.lit(seed)), F.lit(m_bits)
                            )
                        ).alias(f"__b_{c}_{si}")
                    )
            for r in st.select(fname, *bcols).groupBy("__f").agg(*aggs).collect():
                per = {}
                for c in bcols:
                    bits = bytearray(m_bits // 8)
                    for si in range(len(BLOOM_SEEDS)):
                        for p in r[f"__b_{c}_{si}"] or []:
                            bits[p // 8] |= 1 << (p % 8)
                    per[c] = base64.b64encode(bytes(bits)).decode()
                blooms[r["__f"]] = per

        adds, total = [], 0
        import pyarrow.parquet as pq

        stat_cols = set(self.stats_columns())
        for dirpath, _dirs, names in os.walk(out):
            for name in sorted(names):
                if name.endswith(".parquet"):
                    full = os.path.join(dirpath, name)
                    meta = pq.read_metadata(full)
                    add = {
                        "path": os.path.relpath(full, self.path),
                        "rows": meta.num_rows,
                    }
                    if blooms.get(name):
                        add["bloom"] = blooms[name]
                    stats = _footer_stats(meta, stat_cols, phys2log)
                    if stats:
                        add["stats"] = stats
                    adds.append(add)
                    total += meta.num_rows
        return adds, total

    def files_matching(
        self, ranges: dict[str, tuple] | None = None, version: int | None = None
    ) -> list[str]:
        """Data-skipping file listing: keep only active files whose recorded
        min/max overlap the given per-column (lo, hi) ranges. Files without
        stats are conservatively kept. This is the Delta-style skip that
        turns a 100 TB merge probe into a scan of just the key-overlapping
        files."""
        active = self._state(version)["active"]
        # point-predicate bloom probe: for equality bounds (lo == hi) on an
        # indexed column, compute the probe's full 64-bit hashes ONCE (one
        # 1-row jvm eval — the literal is cast to the column's type so the
        # hash matches the build side), then test each file's bitmap at
        # (hash mod that file's own m) — the bitmap length carries m, so a
        # bloomFilterBits change never mis-probes old files.
        probe_hashes: dict[str, list[int]] = {}
        eq = {
            c: lo
            for c, (lo, hi) in (ranges or {}).items()
            if lo is not None and lo == hi
        }
        if eq and any((a.get("bloom") or {}) for a in active.values()):
            fields = {f.name: f for f in self.schema().fields}
            exprs = []
            for c, v in eq.items():
                if c not in fields:
                    continue
                for si, seed in enumerate(BLOOM_SEEDS):
                    exprs.append(
                        F.xxhash64(
                            F.lit(v).cast(fields[c].dataType), F.lit(seed)
                        ).alias(f"{c}__{si}")
                    )
            if exprs:
                row = self.spark.range(1).select(*exprs).collect()[0]
                for c in eq:
                    if f"{c}__0" in row.asDict():
                        probe_hashes[c] = [
                            row[f"{c}__{si}"] for si in range(len(BLOOM_SEEDS))
                        ]
        import base64

        out = []
        for rel, add in active.items():
            keep = True
            bloom = add.get("bloom") or {}
            for colname, hashes in probe_hashes.items():
                if colname in bloom:
                    bits = base64.b64decode(bloom[colname])
                    m_file = len(bits) * 8
                    if not all(
                        bits[(h % m_file) // 8] >> ((h % m_file) % 8) & 1
                        for h in hashes
                    ):
                        keep = False
                        break
            if not keep:
                continue
            stats = add.get("stats") or {}
            for colname, (lo, hi) in (ranges or {}).items():
                if colname in stats:
                    mn, mx = stats[colname]
                    try:
                        if (hi is not None and mn is not None and mn > hi) or (
                            lo is not None and mx is not None and mx < lo
                        ):
                            keep = False
                            break
                    except TypeError:
                        # bound type doesn't match the stats type (e.g. a
                        # string literal probed against numeric min/max):
                        # no sound skip — keep the file
                        continue
            if keep:
                out.append(self._abs(rel))
        return out

    def _touched_candidates(self, condition: str | None) -> list[str]:
        """Active files that could contain rows matching ``condition`` —
        the automatic data-skipping DELETE/UPDATE probe (Delta derives the
        same bounds from the command predicate). Sound per-column bounds
        are extracted from the condition's top-level AND conjuncts; files
        whose recorded min/max can't overlap are skipped without a scan."""
        return self.files_matching(
            condition_ranges(
                condition,
                sorted(set(self.stats_columns()) | set(self.bloom_columns())),
            )
            if condition
            else None
        )

    def identity_columns(self) -> dict[str, tuple[int, int]]:
        """{column: (start, step)} from ``identity.<col>`` properties."""
        out = {}
        for k, v in self.properties().items():
            if k.startswith("identity."):
                start, step = (int(x) for x in str(v).split(","))
                if step == 0:
                    raise ValueError("identity step must be nonzero")
                out[k[len("identity."):]] = (start, step)
        return out

    def generated_columns(self) -> dict[str, str]:
        """{column: generation_expr} from ``generated.<col>`` properties."""
        return {
            k[len("generated."):]: v
            for k, v in self.properties().items()
            if k.startswith("generated.") and v
        }

    def _assign_identity(
        self, df: DataFrame, idcols: dict[str, tuple[int, int]]
    ) -> DataFrame:
        """Generate values for GENERATED ALWAYS AS IDENTITY columns:
        hwm + step * (1 + per-row unique id). monotonically_increasing_id
        leaves gaps — exactly Delta's identity contract (unique and
        advancing, never contiguous) — so no global ordering shuffle is
        ever needed. Raises if the writer supplies the column explicitly
        (GENERATED ALWAYS). Shared by every insert-producing write path
        (append / overwrite / replaceWhere / MERGE inserts), closing the
        hole where non-append writes silently stored NULL identities."""
        provided = set(df.columns)
        for icol in idcols:
            if icol in provided:
                raise ValueError(
                    f"{icol} is GENERATED ALWAYS AS IDENTITY — values "
                    "cannot be supplied explicitly"
                )
        props = self.properties()
        for icol, (start, step) in idcols.items():
            hwm = props.get(f"identityHighWater.{icol}")
            base = int(hwm) if hwm is not None else start - step
            df = df.withColumn(
                icol,
                (
                    F.lit(base)
                    + F.lit(step) * (F.monotonically_increasing_id() + 1)
                ).cast("long"),
            )
        return df

    def _identity_hwm_props(
        self, adds: list[dict], idcols: dict[str, tuple[int, int]]
    ) -> dict:
        """New high-water marks, free from the parquet footer stats the
        identity columns were auto-enrolled in at creation. Monotone:
        never moves the mark backwards (an overwrite that replaced the
        highest rows must not recycle their ids)."""
        props = self.properties()
        out: dict = {}
        for icol, (start, step) in idcols.items():
            vals = [
                (a.get("stats") or {}).get(icol)
                for a in adds
                if (a.get("stats") or {}).get(icol)
            ]
            if vals:
                extreme = (
                    max(v[1] for v in vals) if step > 0 else min(v[0] for v in vals)
                )
                hwm = props.get(f"identityHighWater.{icol}")
                if hwm is not None:
                    extreme = (
                        max(int(hwm), extreme) if step > 0 else min(int(hwm), extreme)
                    )
                out[f"identityHighWater.{icol}"] = int(extreme)
        return out

    def _align(
        self,
        df: DataFrame,
        schema: StructType | None = None,
        keep: tuple[str, ...] = (),
    ) -> DataFrame:
        schema = schema or self.schema()
        keep = tuple(k for k in keep if k in df.columns)
        # fast path: already aligned (same names, order, types) — skip
        # building per-column cast expressions (dozens of py4j round-trips
        # per call; merge calls this on every staged frame)
        if not keep and [(f.name, f.dataType) for f in df.schema.fields] == [
            (f.name, f.dataType) for f in schema.fields
        ]:
            return df
        present = set(df.columns)
        missing = [f.name for f in schema.fields if f.name not in present]
        # property lookup (a log read) only when a column actually needs
        # filling — the common all-columns-present call costs nothing extra
        gen = self.generated_columns() if missing else {}
        cols = [
            (
                F.col(f.name)
                if f.name in present
                else (
                    F.expr(gen[f.name]) if f.name in gen else F.lit(None)
                )
            )
            .cast(f.dataType)
            .alias(f.name)
            for f in schema.fields
        ]
        return df.select(*cols, *[F.col(k) for k in keep])

    def txn_version(self, app_id: str) -> int | None:
        """Last committed writer-transaction version for ``app_id``
        (Delta's SetTransaction action), or None."""
        v = self.properties().get(f"txn.{app_id}")
        return int(v) if v is not None else None

    def append(
        self,
        df: DataFrame,
        merge_schema: bool = False,
        txn_app_id: str | None = None,
        txn_version: int | None = None,
        operation: str = "APPEND",
        extra_metrics: dict | None = None,
    ) -> int:
        """Transactional append; returns the new version.

        ``merge_schema=True`` widens the table schema with columns present in
        ``df`` but not yet in the table (additive evolution — the OSS
        equivalent of the reference's Autoloader schema hints/evolution,
        ``notebooks/demo-notebook.py:163-166``; SURVEY.md §4). Older files
        simply read the new columns as NULL (schema-on-read).

        ``txn_app_id`` + ``txn_version`` make the append IDEMPOTENT
        (Delta's ``txnAppId``/``txnVersion`` writer options): the commit
        records the writer's transaction version, and a replay with a
        version <= the recorded one is a NO-OP returning the current table
        version. This is the exactly-once contract for restarted streaming
        ``foreachBatch`` sinks — the epoch id is the txn version, so a
        re-delivered micro-batch after a crash can never double-append.
        The guard composes with optimistic concurrency: a racing writer's
        commit makes this one collide and retry, at which point the
        re-read txn property reflects the winner.
        """
        if (txn_app_id is None) != (txn_version is None):
            raise ValueError("txn_app_id and txn_version must be set together")
        if txn_app_id is not None:
            last = self.txn_version(txn_app_id)
            if last is not None and txn_version <= last:
                return self.version()  # replayed batch: no-op
        schema_json = None
        snapshot_version = self.version()
        write_schema = self.schema()
        if merge_schema:
            new_fields = [
                f for f in df.schema.fields if f.name not in write_schema.fieldNames()
            ]
            if new_fields:
                write_schema = StructType(write_schema.fields + new_fields)
                schema_json = write_schema.json()
        idcols = self.identity_columns()
        props_after: dict = {}
        if idcols:
            df = self._assign_identity(df, idcols)
        # metadata fingerprint BEFORE staging: _stage_write validates the
        # staged rows against the constraint set as of this read, so a
        # collision retry comparing against anything later could rebase
        # rows a concurrently added constraint never checked
        schema_at_stage = write_schema.json()
        cons_at_stage = self.constraints()
        adds, rows = self._stage_write(self._align(df, write_schema))
        if idcols and rows:
            props_after.update(self._identity_hwm_props(adds, idcols))
        if txn_app_id is not None:
            props_after[f"txn.{txn_app_id}"] = str(txn_version)
        # Commit with APPEND auto-rebase (Delta's blind-append rule): two
        # appends logically commute — neither reads table data — so on a
        # version collision the loser re-reads the log and re-publishes the
        # SAME staged files at the fresh version. No data is rewritten and
        # no job re-runs; the retry is one log read + one commit write.
        # Rebase is disabled (collision surfaces to the caller) when this
        # commit carries state that a racing winner could invalidate:
        # identity high-water marks (values already baked into the staged
        # parquet would collide with the winner's) or a schema evolution
        # (the winner may have evolved incompatibly). Each retry also
        # re-checks the table METADATA: if the winner changed the schema
        # or the CHECK-constraint set (e.g. a concurrent ADD CONSTRAINT
        # the staged rows were never validated against), the collision
        # surfaces so the caller re-stages against the fresh contract —
        # the same metadata-conflict rule Delta applies to blind appends.
        # The idempotent-txn guard is re-evaluated per attempt: if the
        # racing winner was a replay of this very transaction, the rebase
        # becomes a no-op (and the orphaned stage is cleaned up).
        can_rebase = schema_json is None and not any(
            k.startswith("identityHighWater.") for k in props_after
        )

        def _discard_stage() -> None:
            roots = {os.sep.join(a["path"].split(os.sep)[:2]) for a in adds}
            for r in roots:
                shutil.rmtree(self._abs(r), ignore_errors=True)

        v = snapshot_version + 1
        for _ in range(20):
            try:
                lakelog.write_commit(
                    self.path,
                    Commit(
                        version=v,
                        operation=operation,
                        timestamp_ms=lakelog.now_ms(),
                        add=adds,
                        schema_json=schema_json,
                        properties=props_after,
                        metrics={
                            "num_inserted_rows": rows,
                            **(extra_metrics or {}),
                        },
                    ),
                )
                self._maybe_auto_compact()
                return v
            except FileExistsError:
                if not can_rebase:
                    _discard_stage()  # this stage can never be published
                    raise
                if txn_app_id is not None:
                    last = self.txn_version(txn_app_id)
                    if last is not None and txn_version <= last:
                        _discard_stage()  # winner was our own replay
                        return self.version()
                if (
                    self.schema().json() != schema_at_stage
                    or self.constraints() != cons_at_stage
                ):
                    # metadata conflict: staged rows are unvalidated
                    _discard_stage()
                    raise
                v = self.version() + 1
        _discard_stage()
        raise FileExistsError(
            f"append to {self.path} lost {20} consecutive commit races"
        )

    def overwrite(self, df: DataFrame) -> int:
        commits = self._commits()
        # checkpoint-aware active set (see replace_definition): a fold over
        # the possibly-log-retention-truncated commit list misses files
        # whose add commit was cleaned, so OVERWRITE would fail to remove
        # them and reads would union stale rows with the new contents
        state = self._state()
        removed = list(state["active"])
        dvmap = state.get("dv") or {}
        idcols = self.identity_columns()
        if idcols:
            # identity generation applies to EVERY insert-producing write,
            # not just append — and the high-water mark never rewinds, so
            # replaced rows' ids are not recycled
            df = self._assign_identity(df, idcols)
        adds, rows = self._stage_write(self._align(df))
        props_after = (
            self._identity_hwm_props(adds, idcols) if idcols and rows else {}
        )
        v = commits[-1].version + 1
        lakelog.write_commit(
            self.path,
            Commit(
                version=v,
                operation="OVERWRITE",
                timestamp_ms=lakelog.now_ms(),
                add=adds,
                remove=removed + self._dv_release(removed, dvmap),
                properties=props_after,
                metrics={"num_inserted_rows": rows},
            ),
        )
        return v

    def overwrite_where(self, df: DataFrame, condition: str) -> int:
        """Selective overwrite (Delta's ``option("replaceWhere", cond)``):
        atomically replace exactly the rows matching ``condition`` with
        ``df`` — one commit, so readers never see the in-between state.

        Every incoming row must itself satisfy ``condition`` (Delta enforces
        the same: a replaceWhere write may not smuggle rows outside the
        replaced region). Files with no matching rows are untouched; files
        that mix matching and non-matching rows are rewritten keeping their
        non-matching remainder. The touched-file probe is stats-pruned via
        ``condition_ranges`` like DELETE, so replacing one partition's worth
        of a clustered 100 TB table scans only the overlapping files.
        """
        bad = (
            df.where(~F.coalesce(F.expr(condition), F.lit(False)))
            .limit(1)
            .collect()
        )
        if bad:
            raise ValueError(
                f"replaceWhere: incoming row violates the predicate "
                f"({condition}): {bad[0]}"
            )
        snapshot_version = self.version()
        idcols = self.identity_columns()
        if idcols:
            # localCheckpoint pins the generated ids: the staged write and
            # the materialized CDF are separate actions, and re-evaluating
            # monotonically_increasing_id across them could assign
            # different ids to the same rows (replaceWhere batches are
            # micro-batch scale, so the materialization is cheap)
            df = self._assign_identity(df, idcols).localCheckpoint()
        state = self._state()
        dvmap = state.get("dv") or {}
        rt = self.row_tracking_enabled()
        candidates = self._touched_candidates(condition)
        target = self._read_files(
            candidates,
            dv_map=dvmap,
            with_file=True,
            row_base=self._row_base_map(state) if rt else None,
        )
        cond = F.coalesce(F.expr(condition), F.lit(False))
        touched = (
            [
                r["__file"]
                for r in target.where(cond).select("__file").distinct().collect()
            ]
            if candidates
            else []
        )
        kept = (
            target.where(F.col("__file").isin(touched)).where(~cond).drop("__file")
            if touched
            else None
        )
        new_data = self._align(df)
        if kept is not None:
            if rt:
                # out-of-predicate rows are rewritten but logically
                # unchanged: their ids must survive; the replacement rows
                # are NEW rows and draw fresh ids from the file's base
                kept = kept.withColumnRenamed("_row_id", "__row_id")
            new_data = self._align(kept, keep=("__row_id",)).unionByName(
                new_data, allowMissingColumns=True
            )
        adds, rows = self._stage_write(new_data)
        cdf_rel = None
        if self.cdf_enabled():
            replaced = target.where(F.col("__file").isin(touched)).where(cond).drop(
                "__file", "_row_id"
            ) if touched else None
            parts = self._align(df).withColumn(CHANGE_TYPE, F.lit("insert"))
            if replaced is not None:
                parts = parts.unionByName(
                    replaced.withColumn(CHANGE_TYPE, F.lit("delete"))
                )
            cdf_rel = self._write_cdf(parts)
        v = snapshot_version + 1
        touched_rel = [self._rel_of(f) for f in touched]
        lakelog.write_commit(
            self.path,
            Commit(
                version=v,
                # distinct op name: OVERWRITE's change feed is synthesized
                # from the whole file lists, which would double-count (and
                # mis-classify rewritten kept rows) for a partial replace —
                # REPLACE materializes its exact row-level changes instead
                operation="REPLACE",
                timestamp_ms=lakelog.now_ms(),
                add=adds,
                remove=touched_rel + self._dv_release(touched_rel, dvmap),
                cdf_path=cdf_rel,
                properties=(
                    self._identity_hwm_props(adds, idcols)
                    if idcols and rows
                    else {}
                ),
                metrics={
                    "num_touched_files": len(touched),
                    "num_written_rows": rows,
                    "replace_where": condition,
                },
            ),
        )
        return v

    def delete(self, condition: str) -> int:
        # micro scope: the touched-probe collect and rewrite/CDF writes
        # below otherwise pay per-Exchange AQE jobs and broadcast builds —
        # pure fixed cost when the whole table is provably micro (analyzed
        # leaf bytes); a big table keeps AQE
        with maintenance_plan_scope(
            self.spark, self.to_df()
        ), persist_scope() as persist:
            return self._delete_impl(condition, persist)

    def _delete_impl(self, condition: str, persist) -> int:
        """DELETE FROM table WHERE condition — rewrites only touched files.

        Commits as (snapshot version at read time) + 1: a concurrent commit
        landing mid-operation collides instead of being silently built over.

        The condition is null-coalesced to FALSE: a row where it evaluates
        NULL (e.g. ``x > 5`` with ``x`` NULL) is *kept*, matching SQL
        DELETE semantics. Without the coalesce such a row would fall out of
        BOTH the kept (``NOT cond`` = NULL) and deleted (``cond`` = NULL)
        sides of the file rewrite and silently vanish.

        The touched-file probe is data-skipped: per-column bounds derived
        from the condition (``condition_ranges``) prune the probe to
        stat-overlapping files, so ``DELETE WHERE key = k`` on a clustered
        100 TB table scans only the key's file(s), not the table.
        """
        snapshot_version = self.version()
        state = self._state()
        dvmap = state.get("dv") or {}
        dv_on = self.dv_enabled()
        # row tracking: the kept-rows rewrite must materialize ids (a DV
        # delete rewrites nothing, so ids are stable there without it)
        rt = self.row_tracking_enabled() and not dv_on
        candidates = self._touched_candidates(condition)
        target = self._read_files(
            candidates,
            dv_map=dvmap,
            with_lineage=dv_on,
            with_file=True,
            row_base=self._row_base_map(state) if rt else None,
        )
        cond = F.coalesce(F.expr(condition), F.lit(False))
        touched = (
            [
                r["__file"]
                for r in target.where(cond).select("__file").distinct().collect()
            ]
            if candidates
            else []
        )
        if not touched:
            v = snapshot_version + 1
            lakelog.write_commit(
                self.path,
                Commit(version=v, operation="DELETE", timestamp_ms=lakelog.now_ms()),
            )
            return v
        touched_rows = target.where(F.col("__file").isin(touched))
        if dv_on:
            # Deletion-vector path: mark the doomed rows in a sidecar; zero
            # data-file rewrite (the Delta DV DELETE). Read-side anti-join
            # subtracts them everywhere (_read_files).
            doomed = persist(touched_rows.where(cond))
            commit_dv, removable = self._write_dv(doomed, touched, dvmap)
            n_del = doomed.count()
            cdf_rel = None
            if self.cdf_enabled():
                cdf_rel = self._write_cdf(
                    doomed.drop("__file", "__fname", "__pos").withColumn(
                        CHANGE_TYPE, F.lit("delete")
                    )
                )
            v = snapshot_version + 1
            lakelog.write_commit(
                self.path,
                Commit(
                    version=v,
                    operation="DELETE",
                    timestamp_ms=lakelog.now_ms(),
                    remove=removable,
                    cdf_path=cdf_rel,
                    dv=commit_dv,
                    metrics={
                        "num_deleted_rows": n_del,
                        "num_touched_files": len(touched),
                        "deletion_vector": True,
                    },
                ),
            )
            return v
        kept = touched_rows.where(~cond).drop("__file")
        deleted = touched_rows.where(cond).drop("__file")
        if rt:
            kept = kept.withColumnRenamed("_row_id", "__row_id")
            deleted = deleted.drop("_row_id")
        adds, kept_rows = (
            self._stage_write(
                self._align(kept, keep=("__row_id",)),
                expected_rows=self._touched_rows_upper_bound(touched),
            )
            if kept.limit(1).count()
            else ([], 0)
        )
        cdf_rel = None
        if self.cdf_enabled():
            cdf_rel = self._write_cdf(deleted.withColumn(CHANGE_TYPE, F.lit("delete")))
        v = snapshot_version + 1
        touched_rel = [self._rel_of(f) for f in touched]
        lakelog.write_commit(
            self.path,
            Commit(
                version=v,
                operation="DELETE",
                timestamp_ms=lakelog.now_ms(),
                add=adds,
                remove=touched_rel + self._dv_release(touched_rel, dvmap),
                cdf_path=cdf_rel,
                metrics={"num_touched_files": len(touched)},
            ),
        )
        return v

    def update(
        self, assignments: dict[str, str], condition: str | None = None
    ) -> int:
        # micro scope: see delete()
        with maintenance_plan_scope(
            self.spark, self.to_df()
        ), persist_scope() as persist:
            return self._update_impl(assignments, condition, persist)

    def _update_impl(
        self, assignments: dict[str, str], condition: str | None, persist
    ) -> int:
        """UPDATE table SET col = expr, ... [WHERE condition] — rewrites
        only touched files (Delta's UPDATE command).

        ``assignments`` maps column name -> SQL expression over the current
        row. Same snapshot-pinned commit and null-coalesced condition as
        :meth:`delete` (a NULL-evaluating condition keeps the row
        unmodified); CDF records update_preimage/update_postimage pairs.
        """
        unknown = set(assignments) - {f.name for f in self.schema().fields}
        if unknown:
            raise ValueError(f"UPDATE of unknown columns: {sorted(unknown)}")
        # GENERATED ALWAYS AS IDENTITY values are immutable: an UPDATE that
        # overwrote one would bypass the high-water bookkeeping and let a
        # later append mint a duplicate id
        bad_id = set(assignments) & set(self.identity_columns())
        if bad_id:
            raise ValueError(
                f"{sorted(bad_id)} are GENERATED ALWAYS AS IDENTITY — "
                "UPDATE may not assign them"
            )
        snapshot_version = self.version()
        state = self._state()
        dvmap = state.get("dv") or {}
        dv_on = self.dv_enabled()
        # row tracking: both rewrite flavors re-stage updated rows, so both
        # materialize their ids
        rt = self.row_tracking_enabled()
        candidates = self._touched_candidates(condition)
        target = self._read_files(
            candidates,
            dv_map=dvmap,
            with_lineage=dv_on,
            with_file=True,
            row_base=self._row_base_map(state) if rt else None,
        )
        cond = (
            F.coalesce(F.expr(condition), F.lit(False))
            if condition is not None
            else F.lit(True)
        )
        touched = (
            [
                r["__file"]
                for r in target.where(cond).select("__file").distinct().collect()
            ]
            if candidates
            else []
        )
        if not touched:
            v = snapshot_version + 1
            lakelog.write_commit(
                self.path,
                Commit(version=v, operation="UPDATE", timestamp_ms=lakelog.now_ms()),
            )
            return v
        touched_rows = target.where(F.col("__file").isin(touched))
        schema = self.schema()
        post_cols = [
            (
                F.when(cond, F.expr(assignments[f.name]).cast(f.dataType))
                .otherwise(F.col(f.name))
                if f.name in assignments
                else F.col(f.name)
            ).alias(f.name)
            for f in schema.fields
        ]
        if dv_on:
            # DV UPDATE (Delta's DV-enabled UPDATE): mark the old versions
            # of updated rows in a sidecar and stage ONLY the updated rows
            # as new data — untouched rows in the file are never rewritten.
            affected = persist(touched_rows.where(cond))
            commit_dv, removable = self._write_dv(affected, touched, dvmap)
            rid = (
                [F.col("_row_id").alias("__row_id")] if rt else []
            )
            post_upd = affected.select(*post_cols, *rid)
            adds, n_rows = self._stage_write(
                self._align(post_upd, keep=("__row_id",)),
                expected_rows=self._touched_rows_upper_bound(touched),
            )
            cdf_rel = None
            if self.cdf_enabled():
                pre = affected.drop("__file", "__fname", "__pos", "_row_id")
                cdf_rel = self._write_cdf(
                    pre.withColumn(
                        CHANGE_TYPE, F.lit("update_preimage")
                    ).unionByName(
                        post_upd.drop("__row_id").withColumn(
                            CHANGE_TYPE, F.lit("update_postimage")
                        )
                    )
                )
            v = snapshot_version + 1
            lakelog.write_commit(
                self.path,
                Commit(
                    version=v,
                    operation="UPDATE",
                    timestamp_ms=lakelog.now_ms(),
                    add=adds,
                    remove=removable,
                    cdf_path=cdf_rel,
                    dv=commit_dv,
                    metrics={
                        "num_updated_rows": n_rows,
                        "num_touched_files": len(touched),
                        "deletion_vector": True,
                    },
                ),
            )
            return v
        rid = [F.col("_row_id").alias("__row_id")] if rt else []
        rewritten = touched_rows.select(*post_cols, *rid)
        adds, _rows = self._stage_write(
            self._align(rewritten, keep=("__row_id",)),
            expected_rows=self._touched_rows_upper_bound(touched),
        )
        cdf_rel = None
        if self.cdf_enabled():
            pre = touched_rows.where(cond).drop("__file", "_row_id")
            post_upd = touched_rows.where(cond).select(*post_cols)
            cdf_rel = self._write_cdf(
                pre.withColumn(CHANGE_TYPE, F.lit("update_preimage")).unionByName(
                    post_upd.withColumn(CHANGE_TYPE, F.lit("update_postimage"))
                )
            )
        v = snapshot_version + 1
        touched_rel = [self._rel_of(f) for f in touched]
        lakelog.write_commit(
            self.path,
            Commit(
                version=v,
                operation="UPDATE",
                timestamp_ms=lakelog.now_ms(),
                add=adds,
                remove=touched_rel + self._dv_release(touched_rel, dvmap),
                cdf_path=cdf_rel,
                metrics={"num_touched_files": len(touched)},
            ),
        )
        return v

    def compact(
        self,
        target_file_rows: int = 4_000_000,
        cluster_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        max_input_file_rows: int | None = None,
        where: str | None = None,
    ) -> int:
        # micro scope: see delete() — a micro table's compaction rewrite
        # and z-order sampling don't need AQE stages or broadcast builds
        with maintenance_plan_scope(self.spark, self.to_df()):
            return self._compact_impl(
                target_file_rows, cluster_by, zorder_by,
                max_input_file_rows, where,
            )

    def _compact_impl(
        self,
        target_file_rows: int = 4_000_000,
        cluster_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        max_input_file_rows: int | None = None,
        where: str | None = None,
    ) -> int:
        """OPTIMIZE-style small-file compaction: rewrite the current snapshot
        into ~``target_file_rows``-row files. Purely physical — no logical
        change, so no CDF rows are emitted (the COMPACT op is invisible to
        ``read_changes``). At scale this runs per partition on a schedule to
        absorb the small files that micro-batch merges produce.

        ``max_input_file_rows`` switches to INCREMENTAL OPTIMIZE: only
        files at or below the threshold (plus any deletion-vector-carrying
        file, whose vector gets materialized) are rewritten; right-sized
        files are untouched, so steady-state maintenance costs
        O(small files since last OPTIMIZE), not O(table) — how OPTIMIZE is
        actually scheduled on a 100 TB table.

        ``cluster_by`` range-partitions and sorts the rewrite on the given
        columns: lexicographic clustering — files carry tight, disjoint
        min/max stats on the FIRST column, so ``files_matching``/merge
        pruning skips all but the overlapping file(s). Later columns only
        tie-break and stay unprunable.

        ``zorder_by`` is multi-dimensional clustering (Delta's OPTIMIZE
        ZORDER BY): each column is bucketed by sampled range split points
        and the bucket bits are interleaved into a single z-value the
        rewrite is range-partitioned and sorted on. Every file then covers
        a small hyper-rectangle of the clustered space, so min/max pruning
        works on EVERY zorder column independently — the property
        lexicographic sort cannot give. One extra sampling job (bounded
        collect, ~64k rows regardless of table size) plans the buckets.
        """
        if cluster_by and zorder_by:
            raise ValueError("pass either cluster_by or zorder_by, not both")
        commits = self._commits()
        state = self._state()
        active = state["active"]
        dvmap = state.get("dv") or {}
        if max_input_file_rows is not None:
            # incremental OPTIMIZE: rewrite only under-sized files (plus any
            # DV-carrying file, whose vector gets materialized) — the
            # steady-state maintenance cost is O(small files since last
            # OPTIMIZE), not O(table)
            selected = {
                rel: a
                for rel, a in active.items()
                if a.get("rows", 0) <= max_input_file_rows or rel in dvmap
            }
        else:
            selected = dict(active)
        if where:
            # OPTIMIZE ... WHERE <partition predicate> (Delta grammar):
            # restrict the rewrite to files whose hive partition values
            # satisfy the predicate — on a 100 TB table maintenance runs
            # per partition on a schedule, never over the whole table.
            # Predicate evaluation is delegated to Spark over an O(files)
            # metadata frame (partition values parsed from the hive dirs,
            # cast to the table's column types).
            pcols = self.partition_columns()
            if not pcols:
                raise ValueError(
                    "OPTIMIZE ... WHERE requires a partitioned table "
                    "(the predicate selects hive partitions)"
                )
            from urllib.parse import unquote

            schema_types = {f.name: f.dataType for f in self.schema().fields}
            meta_rows = []
            for rel in selected:
                vals: dict[str, str | None] = {}
                for seg in rel.split("/")[:-1]:
                    if "=" in seg:
                        k, _, v = seg.partition("=")
                        vals[k] = (
                            None
                            if v == "__HIVE_DEFAULT_PARTITION__"
                            else unquote(v)
                        )
                meta_rows.append((rel, *[vals.get(c) for c in pcols]))
            meta = self.spark.createDataFrame(
                meta_rows,
                StructType(
                    [StructField("__rel", StringType())]
                    + [StructField(c, StringType()) for c in pcols]
                ),
            )
            for c in pcols:
                meta = meta.withColumn(c, F.col(c).cast(schema_types[c]))
            keep = {
                r["__rel"]
                for r in meta.where(F.expr(where)).select("__rel").collect()
            }
            selected = {rel: a for rel, a in selected.items() if rel in keep}
        if not selected:
            v = commits[-1].version + 1
            lakelog.write_commit(
                self.path,
                Commit(
                    version=v,
                    operation="COMPACT",
                    timestamp_ms=lakelog.now_ms(),
                    metrics={"num_files_before": 0, "num_files_after": 0},
                ),
            )
            return v
        removed = sorted(selected)
        total_rows = sum(a.get("rows", 0) for a in selected.values())
        n_files = max(1, (total_rows + target_file_rows - 1) // target_file_rows)
        rt = self.row_tracking_enabled()
        df = self._read_files(
            [self._abs(r) for r in removed],
            dv_map={r: dvmap[r] for r in removed if r in dvmap} or None,
            row_base=self._row_base_map(state) if rt else None,
        )
        if rt:
            # OPTIMIZE is purely physical: ids must survive the rewrite
            df = df.withColumnRenamed("_row_id", "__row_id")
        if zorder_by:
            df = (
                df.withColumn("__z", _zvalue(df, zorder_by, total_rows))
                .repartitionByRange(n_files, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        elif cluster_by:
            df = df.repartitionByRange(n_files, *cluster_by).sortWithinPartitions(
                *cluster_by
            )
        else:
            df = df.coalesce(n_files)
        adds, rows = self._stage_write(self._align(df, keep=("__row_id",)))
        v = commits[-1].version + 1
        dvmap = self._state().get("dv") or {}
        lakelog.write_commit(
            self.path,
            Commit(
                version=v,
                operation="COMPACT",
                timestamp_ms=lakelog.now_ms(),
                add=adds,
                # compaction physically applies DVs (to_df reads through
                # them), so the rewritten files' sidecars are released
                remove=removed + self._dv_release(removed, dvmap),
                metrics={
                    "num_files_before": len(removed),
                    "num_files_after": len(adds),
                    "num_rows": rows,
                },
            ),
        )
        return v

    def restore(self, version: int) -> int:
        """RESTORE TABLE ... TO VERSION AS OF: roll the live snapshot back
        to ``version`` as a NEW commit — history is preserved, so the bad
        versions stay time-travelable and the rollback itself is auditable
        (Delta's RESTORE). The commit records the file-level diff between
        the current snapshot and the target snapshot: pure metadata, no
        data rewrite, O(|files|) regardless of table size. The change feed
        sees the rollback as whole-file deletes + re-inserts (synthesized,
        like OVERWRITE), plus row-level insert/delete diffs for surviving
        files whose deletion vector the rollback re-pointed. Restoring past files VACUUM already deleted is an
        error, matching Delta."""
        commits = self._commits()
        snap_v = commits[-1].version
        if not 0 <= version <= snap_v:
            raise ValueError(f"cannot restore to v{version}: latest is v{snap_v}")
        target_state = self._state(version)
        current_state = self._state()
        target_active = target_state["active"]
        current_active = current_state["active"]
        target_dv = target_state.get("dv") or {}
        current_dv = current_state.get("dv") or {}
        add = [
            dict(a, path=rel)
            for rel, a in target_active.items()
            if rel not in current_active
        ]
        remove = sorted(rel for rel in current_active if rel not in target_active)
        missing = [a["path"] for a in add if not os.path.isfile(self._abs(a["path"]))]
        # DV reconciliation: every surviving/restored file must end up with
        # exactly its v<version> deletion vector — a fresh pointer where it
        # had one, a tombstone where it has since gained one.
        dv_patch: dict = {}
        for rel in target_active:
            want = target_dv.get(rel)
            have = current_dv.get(rel) if rel in current_active else None
            if want != have:
                dv_patch[rel] = want or ""
        missing += [
            dv for dv in sorted(set(target_dv.values()))
            if not os.path.isdir(self._abs(dv)) and not os.path.isfile(self._abs(dv))
        ]
        if missing:
            raise ValueError(
                f"cannot restore to v{version}: {len(missing)} data file(s) "
                f"already vacuumed (e.g. {missing[0]})"
            )
        released = sorted(
            set(current_dv.values()) - set(target_dv.values())
        )
        v = snap_v + 1
        lakelog.write_commit(
            self.path,
            Commit(
                version=v,
                operation="RESTORE",
                timestamp_ms=lakelog.now_ms(),
                add=add,
                remove=remove + released,
                dv=dv_patch,
                metrics={
                    "restored_version": version,
                    "num_restored_files": len(add),
                    "num_removed_files": len(remove),
                },
            ),
        )
        return v

    # Minimum age for the mtime-based sweeps below (orphaned stage dirs,
    # crashed-writer tmp commit files). Unlike the reference-counted pass —
    # whose victims come from PUBLISHED commits and are safe at any
    # retention — these target paths a CONCURRENT writer may have staged
    # but not yet committed; vacuum(retention_ms≈0) racing such a writer
    # would delete its stage, and the writer's subsequent commit would then
    # reference missing data. Delta guards the analogous hazard with
    # retentionDurationCheck; here anything younger than this floor is
    # skipped regardless of retention_ms unless force=True.
    ORPHAN_SAFETY_MS = 3600 * 1000

    def _maybe_auto_compact(self) -> None:
        """Auto compaction (Delta's ``autoOptimize.autoCompact``): after a
        successful write, if at least ``autoCompact.minNumFiles`` active
        files are under half the optimized-write target, run an
        INCREMENTAL compact of just those files. Gated off by default; the
        check is one dict scan of the cached state. Best-effort: a version
        collision with a concurrent writer skips the maintenance (their
        own post-write check fires), never failing the write that already
        committed."""
        props = self.properties()
        if str(props.get("autoCompact", "false")).lower() != "true":
            return
        target = int(props.get("optimizedWrite.targetFileRows", 4_000_000))
        min_files = int(props.get("autoCompact.minNumFiles", "8"))
        small_cap = max(1, target // 2)
        small = [
            a
            for a in self._state()["active"].values()
            if (a.get("rows") or 0) <= small_cap
        ]
        if len(small) >= min_files:
            try:
                self.compact(
                    target_file_rows=target, max_input_file_rows=small_cap
                )
            except FileExistsError:
                pass  # concurrent commit won the version; skip maintenance

    def cleanup_log(self, retention_ms: int | None = None) -> list[int]:
        """Log retention (Delta's ``logRetentionDuration`` auto-clean): drop
        the prefix of commit files older than ``retention_ms`` after
        pinning a boundary checkpoint, so the log stays O(retention) at
        100 TB commit rates while every retained version — state, change
        feed, row-id bases — reconstructs exactly. Time travel / CDF below
        the boundary raise cleanly. VACUUM's counterpart for metadata;
        returns the deleted versions. Default retention comes from the
        table's ``logRetentionDuration`` property (plain ms or
        ``interval N days``), 30 days otherwise — Delta's contract."""
        if retention_ms is None:
            retention_ms = self._retention_from_property(
                "logRetentionDuration", 30 * 24 * 3600 * 1000
            )
        deleted = lakelog.clean_log(self.path, retention_ms)
        if deleted:
            # memoized state/commit caches may hold pre-cleanup parses
            self._commits_memo = None
            self._state_memo = None
        return deleted

    @staticmethod
    def _parse_interval_ms(text: str) -> int:
        """Parse a Delta-style retention property value: either plain
        milliseconds or ``interval N days|hours|minutes`` (Delta's
        ``deletedFileRetentionDuration`` / ``logRetentionDuration``
        spelling)."""
        s = str(text).strip().lower()
        if s.isdigit():
            return int(s)
        m = re.fullmatch(
            r"interval\s+(\d+)\s+(day|hour|minute|week)s?", s
        )
        if not m:
            raise ValueError(
                f"unparseable retention interval: {text!r} "
                "(use milliseconds or 'interval N days|hours|minutes')"
            )
        n = int(m.group(1))
        unit_ms = {
            "minute": 60_000,
            "hour": 3_600_000,
            "day": 86_400_000,
            "week": 7 * 86_400_000,
        }[m.group(2)]
        return n * unit_ms

    def _retention_from_property(
        self, prop: str, default_ms: int
    ) -> int:
        val = self.properties().get(prop)
        return self._parse_interval_ms(val) if val is not None else default_ms

    def vacuum(
        self,
        retention_ms: int | None = None,
        dry_run: bool = False,
        force: bool = False,
        lite: bool = False,
    ) -> list[str]:
        """Physically delete data files no longer referenced by the current
        snapshot whose removal commit is older than ``retention_ms`` —
        Delta's VACUUM. Without it a long-lived table keeps every
        historical file forever (at 100 TB the dominating storage cost is
        exactly these merge-rewritten files).

        A file is deletable iff (a) it is NOT active in the current
        snapshot, and (b) the last commit that removed it is older than the
        retention horizon. Time travel to versions within retention keeps
        working; versions older than retention may no longer be readable —
        the same contract as Delta. Returns the deleted relative paths
        (``dry_run=True`` only reports). ``force=True`` lifts the
        ``ORPHAN_SAFETY_MS`` floor on the unreferenced-path sweeps (tests /
        known-quiesced tables only).

        ``lite=True`` is Delta 3.3's ``VACUUM ... LITE``: reclaim ONLY from
        the commit log's remove entries and skip the directory-listing
        sweeps (orphaned stage dirs, crashed-writer log residue). On an
        object store a full vacuum's recursive LIST over a 100 TB table's
        millions of files dominates its cost and rate-limits the bucket;
        the lite pass is O(log) metadata instead, which is the right
        routine cadence — run the full (listing) flavor occasionally to
        catch crashed-writer orphans the log cannot see.
        """
        if retention_ms is None:
            # Delta's property-driven default: the table declares its own
            # deleted-file retention (deletedFileRetentionDuration, plain
            # ms or 'interval N days'); 7 days otherwise
            retention_ms = self._retention_from_property(
                "deletedFileRetentionDuration", 7 * 24 * 3600 * 1000
            )
        commits = self._commits()
        # The eligibility clock is max(wall-clock, latest in-commit
        # timestamp + 1): write_commit's monotonic clamp can stamp commits
        # a few ms AHEAD of wall-clock when they land faster than the clock
        # ticks, so a wall-clock-only horizon under 0-ms retention would
        # exclude a remove stamped "in the future" — the vacuum flake found
        # in r10 (vacuum(dry_run, force) returning [] right after a
        # delete). The +1 matters because eligibility is STRICT (t <
        # horizon): vacuum runs after the latest commit by definition, so
        # its clock must sort strictly after that commit's timestamp —
        # otherwise a delete in the same (or clamped-ahead) millisecond
        # stays ineligible even at 0-ms retention.
        now = lakelog.now_ms()
        if commits:
            now = max(now, commits[-1].timestamp_ms + 1)
        horizon = now - retention_ms
        orphan_horizon = (
            horizon if force else min(horizon, now - self.ORPHAN_SAFETY_MS)
        )
        state = self._state()
        # protect referenced DV sidecars too: RESTORE can re-point a file
        # at a sidecar an intermediate commit had released
        active = set(state["active"]) | set((state.get("dv") or {}).values())
        removed_at: dict[str, int] = {}
        for c in commits:
            for r in c.remove:
                removed_at[r] = max(removed_at.get(r, 0), c.timestamp_ms)
        victims = sorted(
            f
            for f, t in removed_at.items()
            if f not in active
            and t < horizon
            # data files are parquet files; released DV sidecars are
            # parquet directories
            and (os.path.isfile(self._abs(f)) or os.path.isdir(self._abs(f)))
            # Never delete outside the table root: a shallow clone's
            # references into its source table (relative paths that escape
            # via "..") are dropped from the clone's snapshot but the bytes
            # belong to the source — Delta's VACUUM has the same rule.
            and not os.path.relpath(self._abs(f), self.path).startswith("..")
        )
        if lite:
            # log-driven reclaim only — no directory listing
            if not dry_run:
                for f in victims:
                    p = self._abs(f)
                    if os.path.isdir(p):
                        shutil.rmtree(p, ignore_errors=True)
                    elif os.path.isfile(p):
                        os.unlink(p)
            return victims
        # Orphaned stage directories: a writer that staged files but never
        # published its commit — a crash after _stage_write, or a
        # merge/delete/update losing its optimistic commit — leaves
        # data/<uuid>/ (or a _cdf//_dv/ sidecar) referenced by NO commit.
        # Such entries appear in no remove list, so the reference-based
        # pass above can never reclaim them; sweep anything unreferenced by
        # the ENTIRE history once it ages past retention (an in-flight
        # writer's fresh stage is protected by its mtime).
        referenced: dict[str, set] = {DATA_DIR: set(), CDF_DIR: set(), DV_DIR: set()}

        def _ref(rel: str) -> None:
            segs = rel.split(os.sep)
            if segs[0] in referenced and len(segs) > 1:
                referenced[segs[0]].add(segs[1])

        # Seed from the CHECKPOINT-AWARE current snapshot first, never only
        # from surviving commits: after cleanup_log() truncates the log, a
        # file added before the retention boundary but still active exists
        # only in the pinned checkpoint — building `referenced` from the
        # commit list alone would classify its uuid dir as an orphan and
        # rmtree LIVE table data. Same for current DV sidecars.
        for rel in state["active"]:
            _ref(rel)
        for dv_rel in (state.get("dv") or {}).values():
            if dv_rel:
                _ref(dv_rel)
        # Files tombstoned by a surviving commit but still inside the
        # retention window are readable via time travel; keep their dirs
        # out of the orphan sweep (mtime is their ADD time, which can be
        # arbitrarily older than their remove time). Past-horizon removes
        # are handled file-by-file by the reference pass above.
        for rel, t in removed_at.items():
            if t >= horizon:
                _ref(rel)
        for c in commits:
            for a in c.add:
                segs = a["path"].split(os.sep)
                if segs[0] in referenced and len(segs) > 1:
                    referenced[segs[0]].add(segs[1])
            if c.cdf_path:
                segs = c.cdf_path.split(os.sep)
                if segs[0] in referenced and len(segs) > 1:
                    referenced[segs[0]].add(segs[1])
            for dv_rel in c.dv.values():
                if dv_rel:
                    segs = dv_rel.split(os.sep)
                    if segs[0] in referenced and len(segs) > 1:
                        referenced[segs[0]].add(segs[1])
        for top, names in referenced.items():
            d = os.path.join(self.path, top)
            for name in os.listdir(d) if os.path.isdir(d) else []:
                if name in names:
                    continue
                p = os.path.join(d, name)
                try:
                    if os.path.getmtime(p) * 1000 < orphan_horizon:
                        victims.append(os.path.relpath(p, self.path))
                except OSError:
                    pass  # raced another vacuum
        # Crashed-writer residue: a process killed between staging a commit
        # tmp file and linking/unlinking it leaves `*.tmp-<uuid>` in the log
        # dir forever. They are invisible to readers (read_log matches only
        # `<version>.json`) but accumulate; sweep the ones past retention.
        ldir = lakelog.log_dir(self.path)
        for name in os.listdir(ldir) if os.path.isdir(ldir) else []:
            if ".tmp-" in name:
                p = os.path.join(ldir, name)
                try:
                    if os.path.getmtime(p) * 1000 < orphan_horizon:
                        victims.append(os.path.relpath(p, self.path))
                except OSError:
                    pass  # raced another vacuum; nothing to clean
        if not dry_run:
            for f in victims:
                p = self._abs(f)
                if os.path.isdir(p):
                    shutil.rmtree(p, ignore_errors=True)
                elif os.path.isfile(p):
                    os.unlink(p)
        return victims

    def _rel_of(self, abs_or_uri: str) -> str:
        """Relative path of an ``input_file_name()`` URI under the table root.

        The URI is percent-encoded (spaces, non-ASCII); decode it or the
        remove entries recorded by merge()/delete() won't match the add
        paths and rewritten files would stay active (duplicated rows).
        """
        p = abs_or_uri
        if p.startswith("file:"):
            parsed = urllib.parse.urlparse(p)
            p = urllib.parse.unquote(parsed.path)
        return os.path.relpath(p, self.path)

    def _write_dv(
        self, marked: DataFrame, touched: list[str], dv_map: dict
    ) -> tuple[dict, list[str]]:
        """Write one cumulative deletion-vector parquet for ``touched``
        files: newly ``marked`` rows (must carry __fname/__pos lineage)
        unioned with the files' existing DV rows. Returns (commit_dv,
        removable_old_dv_paths). An old DV file is removable only when no
        UNtouched file still points at it (shared-sidecar refcount)."""
        touched_rel = [self._rel_of(f) for f in touched]
        new_rows = marked.select(
            F.col("__fname").alias("file_name"), F.col("__pos").alias("row_index")
        )
        old = self._dv_rows(
            {r: dv_map[r] for r in touched_rel if r in dv_map}, touched
        )
        if old is not None:
            new_rows = new_rows.unionByName(old)
        dv_rel = os.path.join(DV_DIR, uuid.uuid4().hex)
        # one small sidecar per commit: DV rows are the operation's deleted
        # markers (micro-op scale); a delete big enough to produce a huge DV
        # should use the rewrite path instead
        new_rows.coalesce(1).write.mode("overwrite").parquet(self._abs(dv_rel))
        removable = self._dv_release(touched_rel, dv_map)
        return {r: dv_rel for r in touched_rel}, removable

    @staticmethod
    def _dv_release(removed_rels: list[str], dv_map: dict) -> list[str]:
        """DV sidecar files freed when ``removed_rels`` data files leave the
        snapshot (or get fresh DVs): an old sidecar is released only when no
        surviving dv pointer still references it. Released paths go into
        the commit's remove list so VACUUM reclaims them after retention."""
        removed = set(removed_rels)
        refs_after = {dv for f, dv in dv_map.items() if f not in removed}
        return sorted(
            {dv_map[r] for r in removed if r in dv_map} - refs_after
        )

    def _write_cdf(self, df: DataFrame, expected_rows: int | None = None) -> str:
        rel = os.path.join(CDF_DIR, uuid.uuid4().hex)
        # physical names on disk (column mapping): a later rename must not
        # orphan historical change rows — read side re-aliases to the
        # current logical names
        out = self._to_physical(df, self.schema())
        if (
            expected_rows is not None
            and self.properties().get("optimizedWrite.enabled", "true")
            != "false"
        ):
            # same optimized-write sizing as _stage_write: change feeds are
            # sparse, and a per-shuffle-partition shard explosion here makes
            # every downstream CDF reader pay the file opens; n == 1 uses
            # coalesce (no exchange) exactly like _stage_write
            n = self._optimized_write_partitions(expected_rows)
            out = out.coalesce(1) if n == 1 else out.repartition(n)
        out.write.mode("overwrite").parquet(self._abs(rel))
        return rel

    # ---------------------------------------------------------------- MERGE

    def merge(
        self,
        source: DataFrame,
        condition: str,
        clauses: list[MergeClause],
        stats_prune: dict[str, str] | None = None,
        merge_schema: bool = False,
        txn_app_id: str | None = None,
        txn_version: int | None = None,
    ) -> dict:
        # AQE re-planning INSIDE cached subtrees: the merge persists its
        # source frame, and on sessions not built by
        # :func:`session.get_spark` the default (false) leaves the cached
        # plan's shuffles at the full static partition count — a 200-task
        # reducer under a 4-row delta agg, measurable fixed cost per
        # micro-batch merge. Scoped set-and-restore: a library write path
        # must not permanently mutate the caller's session planning.
        with conf_scope(
            self.spark,
            {"spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true"},
        ), persist_scope() as persist:
            return self._merge_impl(
                source,
                condition,
                clauses,
                persist,
                stats_prune=stats_prune,
                merge_schema=merge_schema,
                txn_app_id=txn_app_id,
                txn_version=txn_version,
            )

    def _merge_impl(
        self,
        source: DataFrame,
        condition: str,
        clauses: list[MergeClause],
        persist,
        stats_prune: dict[str, str] | None = None,
        merge_schema: bool = False,
        txn_app_id: str | None = None,
        txn_version: int | None = None,
    ) -> dict:
        """Delta-style MERGE: join source vs target on ``condition``; apply the
        first matching WHEN clause per row. Rewrites only data files containing
        matched rows; returns operation metrics.

        ``txn_app_id`` + ``txn_version`` make the merge IDEMPOTENT under
        replay, exactly like :meth:`append`'s SetTransaction guard: a
        re-delivered micro-batch whose (app, version) the table already
        recorded no-ops BEFORE any data work. This is what makes additive
        aggregate sinks replay-safe — a hash guard cannot protect
        ``SET total = total + delta`` from re-applying the same delta after
        a crash between the merge commit and the reader's offset write.

        Semantics mirror ``MERGE INTO`` at ``notebooks/demo-notebook.py:
        244-280`` (CDC upsert) and ``:393-425`` (additive aggregate merge).
        The caller must ensure at most one source row matches each target row
        (the reference guarantees this by deduping the batch first,
        ``notebooks/demo-notebook.py:262-267``).

        ``merge_schema=True`` widens the target schema with source columns it
        doesn't have yet (Delta's ``withSchemaEvolution()``): rows in
        untouched files read the new columns as NULL (schema-on-read, no
        rewrite), ``UPDATE/INSERT *`` assign them from the source, and CDF
        pre-images carry NULL for them.
        """
        if (txn_app_id is None) != (txn_version is None):
            raise ValueError("txn_app_id and txn_version must be set together")
        if txn_app_id is not None:
            last = self.txn_version(txn_app_id)
            if last is not None and txn_version <= last:
                return {  # replayed batch: no-op before any data work
                    "num_touched_files": 0,
                    "num_deleted_rows": 0,
                    "num_updated_rows": 0,
                    "num_inserted_rows": 0,
                    "num_written_rows": 0,
                    "version": self.version(),
                    "replayed_txn": True,
                }
        if any(
            c.kind in ("delete_by_source", "update_by_source") for c in clauses
        ):
            # by-source conditions/assignments are target-only SQL: qualify
            # their unqualified target-column references so they resolve
            # identically in the target-only planning probe AND the
            # two-sided rewrite join (see _qualify_target_refs)
            tcols = set(self.schema().fieldNames())
            clauses = [
                MergeClause(
                    c.kind,
                    _qualify_target_refs(c.condition, tcols)
                    if c.condition
                    else c.condition,
                    {
                        k: _qualify_target_refs(v, tcols)
                        for k, v in c.assignments.items()
                    }
                    if isinstance(c.assignments, dict)
                    else c.assignments,
                )
                if c.kind in ("delete_by_source", "update_by_source")
                else c
                for c in clauses
            ]
        matched_clauses = [c for c in clauses if c.kind in ("delete", "update")]
        insert_clauses = [c for c in clauses if c.kind == "insert"]
        by_source_clauses = [
            c
            for c in clauses
            if c.kind in ("delete_by_source", "update_by_source")
        ]
        known = {"delete", "update", "insert", "delete_by_source", "update_by_source"}
        bad = [c.kind for c in clauses if c.kind not in known]
        if bad:
            raise ValueError(f"unknown MERGE clause kind(s): {bad}")
        for c in by_source_clauses:
            # no source row exists for these rows: assignments must be
            # explicit target-side expressions (Delta has the same rule)
            if c.kind == "update_by_source" and not isinstance(c.assignments, dict):
                raise ValueError(
                    "WHEN NOT MATCHED BY SOURCE UPDATE requires explicit "
                    "SET assignments (no source row to take * from)"
                )
        # lowercased difference: Spark resolves case-insensitively by
        # default, so a source column differing only in case from a target
        # column still covers it — it must NOT land in target_only (a valid
        # NOT MATCHED condition referencing it would be falsely rejected)
        target_only = {
            f.name.lower() for f in self.schema().fields
        } - {c.lower() for c in source.columns}
        for c in insert_clauses:
            # NOT MATCHED candidates have no target row, so their conditions
            # may reference source columns only (Delta's rule). Enforced at
            # entry for EVERY merge — both the explicit `target.` form and
            # UNQUALIFIED names that only the target has: the empty-target
            # fast path builds a join-free plan with no target columns at
            # all, so without this check the same statement raised
            # AnalysisException only when the target happened to be empty
            # and silently NULL-evaluated the reference otherwise —
            # state-dependent behavior.
            if c.condition and _refs_target(c.condition):
                raise ValueError(
                    "WHEN NOT MATCHED condition may reference source columns "
                    f"only (got {c.condition!r}): there is no target row for "
                    "an insert candidate"
                )
            if c.condition:
                bad_refs = _unqualified_target_only_refs(
                    c.condition, target_only
                )
                if bad_refs:
                    raise ValueError(
                        "WHEN NOT MATCHED condition may reference source "
                        f"columns only (got {c.condition!r}, which uses "
                        f"target-only column(s) {bad_refs}): there is no "
                        "target row for an insert candidate"
                    )
        old_schema = self.schema()
        old_cols = set(old_schema.fieldNames())
        write_schema = old_schema
        schema_json = None
        if merge_schema:
            new_fields = [
                f for f in source.schema.fields if f.name not in old_cols
            ]
            if new_fields:
                write_schema = StructType(old_schema.fields + new_fields)
                schema_json = write_schema.json()
        tgt_cols = [f.name for f in write_schema.fields]
        tgt_types = {f.name: f.dataType for f in write_schema.fields}
        # Optimistic concurrency: capture the snapshot version the whole
        # operation reads from; committing as snapshot+1 makes any
        # intervening writer's commit collide (FileExistsError) instead of
        # being silently built over (write-skew).
        snapshot_version = self.version()

        # Data skipping: when the merge keys have file stats, restrict the
        # target read to files whose key range overlaps the batch's. Rows in
        # skipped files cannot match any source row (equi-key), so every
        # downstream join — probe, rewrite, anti-join — is unaffected.
        target_empty = not self.files()
        prune_map = {
            t: s for t, s in (stats_prune or {}).items() if t in self.stats_columns()
        }
        if target_empty:
            prune_map = {}  # nothing to prune; skip the bounds job
        if by_source_clauses:
            # rows in key-range-pruned files can't match any source row —
            # which makes them exactly the NOT MATCHED BY SOURCE candidates;
            # these merges must see the whole target (inherent to the
            # semantics: Delta's by-source merges scan the full target too)
            prune_map = {}
        state = self._state()
        if prune_map and len(state["active"]) <= MERGE_PRUNE_MIN_FILES:
            # Pruning pays a dedicated source pass (the min/max bounds job)
            # to save target-file reads. With only a handful of active files
            # the best case saves almost nothing, so the bounds job is pure
            # fixed cost per micro-batch merge — skip it and read the files
            # outright. At scale the file count crosses the threshold
            # immediately and skipping resumes; correctness is unaffected
            # either way (pruning only ever narrows the read set).
            prune_map = {}

        # Probe micro mode: with AQE on, every Exchange under the planning
        # jobs (the source's dedup window, the planning join, the probe's
        # partial agg) materializes as its OWN query-stage job — measured
        # 4-6 jobs x 100-500 ms per micro-batch merge, the largest fixed
        # cost of the CDC scenario keys. persist() compiles the cached
        # physical plan EAGERLY at call time, so the AQE-off scope must
        # open BEFORE the source is persisted, not just around the collect.
        # The gate is metadata-exact on the target side (the log's per-file
        # row counts) and estimate-bounded on the source side (the
        # optimizer's own sizeInBytes for the batch plan — a 100 TB initial
        # load keeps AQE for its dedup window; a micro batch provably
        # doesn't need it). Performance-only either way.
        active_rows = [a.get("rows") for a in state["active"].values()]
        total_target_rows = (
            sum(active_rows) if all(r is not None for r in active_rows) else None
        )
        src_bytes = _analyzed_leaf_bytes(source)
        probe_micro = (
            (
                target_empty
                or (
                    total_target_rows is not None
                    and total_target_rows <= 100_000
                )
            )
            and src_bytes is not None
            and src_bytes <= MICRO_PLAN_INPUT_BYTES
        )
        probe_conf = MICRO_PLAN_CONF if probe_micro else {}
        # The source is evaluated by several jobs (bounds, touched-file
        # probe, rewrite join, insert anti-join); persist it so any upstream
        # work (e.g. a dedup window) runs once. persist() compiles the
        # cached physical plan at CALL time, so it sits inside the probe
        # micro scope — that is what keeps the cached subtree non-adaptive.
        with conf_scope(self.spark, probe_conf):
            src_persisted = persist(source.withColumn("__s_match", F.lit(True)))
        src = src_persisted.alias("source")
        cond = F.expr(condition)
        if prune_map:
            with conf_scope(self.spark, probe_conf):
                bounds_row = src_persisted.agg(
                    *[
                        f
                        for scol in prune_map.values()
                        for f in (F.min(scol).alias(f"__mn_{scol}"), F.max(scol).alias(f"__mx_{scol}"))
                    ]
                ).collect()[0]
            ranges = {
                tcol: (
                    _json_safe(bounds_row[f"__mn_{scol}"]),
                    _json_safe(bounds_row[f"__mx_{scol}"]),
                )
                for tcol, scol in prune_map.items()
            }
            read_files = self.files_matching(ranges)
        else:
            read_files = [self._abs(r) for r in state["active"]]
        # row tracking: survivors of the rewrite (matched updates, kept
        # rows, by-source updates) must carry their ids into the staged
        # files; inserts derive fresh ids from the new files' bases
        rt = self.row_tracking_enabled() and not target_empty
        target_df = self._read_files(
            read_files,
            dv_map=state.get("dv") or None,
            with_file=True,
            row_base=self._row_base_map(state) if rt else None,
        )
        # Metadata-driven join strategy: the log carries EXACT per-file row
        # counts, so when the live target is provably small (an aggregate
        # gold table, a dimension), hint broadcast instead of leaving AQE to
        # discover it at runtime — the static broadcast plan skips the
        # sort-merge staging AQE would otherwise materialize as extra
        # query-stage jobs (measurable fixed cost per micro-batch merge).
        # Large targets keep the default planning. The count covers exactly
        # the files read into target_df (the stats-pruned subset when
        # pruning fired), from the one state snapshot read above; a file
        # with no recorded row count disables the hint rather than
        # undercounting it as 0 (a wrong broadcast of a huge target is far
        # worse than a missed one).
        rows_by_rel = {
            self._abs(r): a.get("rows") for r, a in state["active"].items()
        }
        read_counts = [rows_by_rel.get(p) for p in read_files]
        known_rows = (
            sum(read_counts) if all(c is not None for c in read_counts) else None
        )
        target = target_df.alias("target")
        # hint only the PLANNING join's build side (target is its right
        # side); the rewrite join below has target on the LEFT of a
        # left_outer, where a broadcast hint is unsupported noise. In
        # probe-micro scope the hint is SKIPPED: the single-partition join
        # runs inside the probe's one job, while a broadcast exchange
        # would spawn its own build job (the hint overrides the scope's
        # threshold disable).
        target_plan = (
            F.broadcast(target)
            if not probe_micro
            and not target_empty
            and known_rows is not None
            and known_rows <= 100_000
            else target
        )

        # 1. ONE source-sided outer join drives every planning decision.
        #    S = source LEFT OUTER target is O(|source batch|) rows — tiny
        #    next to the target — and, persisted, it yields (a) the
        #    touched-file list, (b) the insert rows, (c) every action count,
        #    and (d) the CDF pre/post images, replacing the separate
        #    full-target probe join and full-target anti join that round 1
        #    paid per merge. Including the clause conditions in the fire
        #    filter — not just the ON condition — is what makes a
        #    re-delivered duplicate batch touch zero files (the reference's
        #    no-op-update elimination, notebooks/demo-notebook.py:276).
        # Empty-target fast path (the initial load of any table, and the
        # first batch of every CDC scenario): with no live files, no source
        # row can match, so the planning join degenerates to "evaluate the
        # insert conditions on the source" — skip the join entirely (its
        # empty-side scan + AQE query stages are pure fixed cost).  The
        # matched-clause machinery below still sees n_del = n_upd = 0 and
        # touched = [], exactly as the join would have produced.
        # The action classifier is built as ONE SQL CASE string (a single
        # F.expr round trip): the equivalent chained F.when/F.coalesce
        # Column build paid 2-4 py4j round trips per clause per merge —
        # pure driver fixed cost on the scenario keys (guide §5).
        sm = "FALSE" if target_empty else "(target.`__file` IS NOT NULL)"
        branches: list[str] = []
        if not target_empty:
            # matched branches of an empty target are unreachable AND their
            # conditions reference target columns that don't exist in the
            # join-free plan — omit them entirely
            for i, cl in enumerate(matched_clauses):
                c = (
                    f"coalesce(({cl.condition}), FALSE)"
                    if cl.condition is not None
                    else "TRUE"
                )
                branches.append(f"WHEN {sm} AND {c} THEN '{cl.kind}{i}'")
            branches.append(f"WHEN {sm} THEN 'keep'")
        for j, cl in enumerate(insert_clauses):
            c = (
                f"coalesce(({cl.condition}), FALSE)"
                if cl.condition
                else "TRUE"
            )
            branches.append(f"WHEN (NOT {sm}) AND {c} THEN 'insert{j}'")
        s_action = F.expr(
            "CASE " + " ".join(branches) + " ELSE 'skip' END"
            if branches
            else "'skip'"
        )
        # ONE action over S yields both the touched-file list and every
        # per-action row count (one fewer Spark job per merge; the result is
        # O(actions x touched files) rows — driver-metadata scale).
        fire_actions = [f"{cl.kind}{i}" for i, cl in enumerate(matched_clauses)]
        file_col = (
            F.lit(None).cast("string")
            if target_empty
            else F.expr("target.`__file`")
        )
        with conf_scope(self.spark, probe_conf):
            if target_empty:
                s_joined = persist(src.withColumn("__action", s_action))
            else:
                s_joined = persist(
                    src.join(target_plan, cond, "left_outer").withColumn(
                        "__action", s_action
                    )
                )
            plan_rows = (
                s_joined.groupBy(F.col("__action"), file_col.alias("__f"))
                .count()
                .collect()
            )
        action_counts: dict[str, int] = {}
        touched_set: set[str] = set()
        for r in plan_rows:
            action_counts[r["__action"]] = (
                action_counts.get(r["__action"], 0) + r["count"]
            )
            if r["__action"] in fire_actions and r["__f"]:
                touched_set.add(r["__f"])

        # 1b. BY SOURCE planning: target rows with NO source match that fire
        #     a by-source clause. One target-sided anti join (the source —
        #     micro-batch scale — broadcasts) classifies them; its fired
        #     subset extends the touched-file set and the action counts.
        #     Clause conditions reference target columns only.
        bs_fired = None
        if by_source_clauses and not target_empty:
            bs_action = F.expr(
                "CASE "
                + " ".join(
                    "WHEN "
                    + (
                        f"coalesce(({cl.condition}), FALSE)"
                        if cl.condition is not None
                        else "TRUE"
                    )
                    + f" THEN '{cl.kind}{i}'"
                    for i, cl in enumerate(by_source_clauses)
                )
                + " ELSE 'keep' END"
            )
            # broadcast the source only when it is provably small: the
            # plan probe above counted EVERY source row (each lands in
            # exactly one action), so the gate is exact and free. A
            # full-snapshot sync source (table-scale) stays unhinted and
            # plans as a shuffled anti join sized by AQE — an
            # unconditional hint would blow the broadcast limit.
            src_rows = sum(action_counts.values())
            bs_src = (
                F.broadcast(src)
                if src_rows <= 1_000_000 and not probe_micro
                else src
            )
            # same probe-micro gate: by-source merges read the FULL target
            # (prune_map cleared above), so total_target_rows covers the
            # whole anti-join input
            with conf_scope(self.spark, probe_conf):
                bs_fired = persist(
                    target.join(bs_src, cond, "left_anti")
                    .withColumn("__action", bs_action)
                    .where(F.col("__action") != "keep")
                )
                bs_rows = (
                    bs_fired.groupBy(
                        F.col("__action"), F.expr("target.`__file`").alias("__f")
                    )
                    .count()
                    .collect()
                )
            for r in bs_rows:
                action_counts[r["__action"]] = (
                    action_counts.get(r["__action"], 0) + r["count"]
                )
                if r["__f"]:
                    touched_set.add(r["__f"])
        touched = sorted(touched_set)

        # 2. Rewrite candidates: rows from touched files joined to the source
        #    (the only remaining target-side join; it reads ONLY the touched
        #    files). Materialized exactly once, by _stage_write.
        touched_target = (
            target.where(F.col("__file").isin(touched)) if touched else target.limit(0)
        ).alias("target")
        joined = touched_target.join(src, cond, "left_outer")
        inserts = None
        # Rewrite-side action classifier + post-image projection, both
        # as SQL strings (one F.expr / one selectExpr round trip): the
        # per-column nested F.when chain paid O(columns x clauses)
        # py4j round trips per merge (guide §5). CASE branches are
        # disjoint on __action, so flattening the original nested
        # otherwise() chain preserves semantics exactly.
        action_branches: list[str] = []
        for i, cl in enumerate(matched_clauses):
            c = (
                f"({cl.condition})" if cl.condition is not None else "TRUE"
            )
            action_branches.append(
                f"WHEN (__s_match IS NOT NULL) AND {c} THEN '{cl.kind}{i}'"
            )
        for i, cl in enumerate(by_source_clauses):
            c = (
                f"coalesce(({cl.condition}), FALSE)"
                if cl.condition is not None
                else "TRUE"
            )
            action_branches.append(
                f"WHEN (__s_match IS NULL) AND {c} THEN '{cl.kind}{i}'"
            )
        acted = joined.withColumn(
            "__action",
            F.expr(
                "CASE " + " ".join(action_branches) + " ELSE 'keep' END"
                if action_branches
                else "'keep'"
            ),
        )

        src_cols = set(source.columns)

        def target_or_null_sql(colname: str) -> str:
            # evolved columns don't exist in the target scan yet:
            # untouched rows carry NULL (schema-on-read)
            if colname in old_cols:
                return f"target.`{_bq(colname)}`"
            return f"CAST(NULL AS {tgt_types[colname].simpleString()})"

        def post_exprs(
            include_matched: bool, include_bs: bool
        ) -> list[str]:
            """Post-image projection (SQL strings): per column, a CASE
            over the selected update-clause families, falling back to
            the target value (NULL for evolved columns)."""
            exprs = []
            for colname in tgt_cols:
                val_branches: list[str] = []
                if include_matched:
                    for i, cl in enumerate(matched_clauses):
                        if cl.kind != "update":
                            continue
                        if cl.assignments == "*" or cl.assignments is None:
                            e = (
                                f"source.`{_bq(colname)}`"
                                if colname in src_cols
                                else target_or_null_sql(colname)
                            )
                        else:
                            e = (
                                f"({cl.assignments[colname]})"
                                if colname in cl.assignments
                                else target_or_null_sql(colname)
                            )
                        val_branches.append(
                            f"WHEN __action = 'update{i}' THEN {e}"
                        )
                if include_bs:
                    for i, cl in enumerate(by_source_clauses):
                        if cl.kind != "update_by_source":
                            continue
                        # by-source: no source row — assignments are
                        # target-only SQL (dict form enforced at entry)
                        e = (
                            f"({cl.assignments[colname]})"
                            if colname in cl.assignments
                            else target_or_null_sql(colname)
                        )
                        val_branches.append(
                            f"WHEN __action = 'update_by_source{i}' THEN {e}"
                        )
                base = target_or_null_sql(colname)
                sql = (
                    f"CASE {' '.join(val_branches)} ELSE {base} END"
                    if val_branches
                    else base
                )
                exprs.append(f"{sql} AS `{_bq(colname)}`")
            return exprs

        # Post-image values for kept/updated rows.
        out_cols = post_exprs(True, True)

        rid_cols = ["target.`_row_id` AS `__row_id`"] if rt else []
        survivors = acted.where(
            "__action NOT LIKE 'delete%'"
        ).selectExpr(*out_cols, *rid_cols)

        # 3. Inserts: the S rows that matched no target row (rows in
        #    stat-pruned files can't match the equi-key, so the pruned
        #    target suffices). A cheap projection of the persisted S —
        #    no second target-side join.
        inserts = None
        ins_parts = []
        for j, cl in enumerate(insert_clauses):
            part = s_joined.where(f"__action = 'insert{j}'")
            if cl.assignments == "*" or cl.assignments is None:
                proj = [
                    (
                        f"source.`{_bq(c)}`"
                        if c in src_cols
                        else "NULL"
                    )
                    + f" AS `{_bq(c)}`"
                    for c in tgt_cols
                ]
            else:
                proj = [
                    (
                        f"({cl.assignments[c]})"
                        if c in cl.assignments
                        else "NULL"
                    )
                    + f" AS `{_bq(c)}`"
                    for c in tgt_cols
                ]
            ins_parts.append(part.selectExpr(*proj))
        if ins_parts:
            inserts = ins_parts[0]
            for p in ins_parts[1:]:
                inserts = inserts.unionByName(p)

        # GENERATED ALWAYS AS IDENTITY under MERGE: inserts generate
        # fresh values (the projection above filled them with NULL);
        # supplying one — via an explicit assignment, an INSERT * whose
        # source carries the column, or an UPDATE SET — is rejected,
        # matching the append/overwrite contract. The generated ids are
        # evaluated by exactly ONE action (the insert stage write; the
        # change feed synthesizes inserts from the staged files), so no
        # checkpoint is needed to pin them.
        idcols = self.identity_columns()
        if idcols:
            src_cols_all = set(source.columns)
            for icol in idcols:
                for cl in clauses:
                    explicit = (
                        isinstance(cl.assignments, dict)
                        and icol in cl.assignments
                    )
                    star_supplied = (
                        cl.kind in ("insert", "update")
                        and (cl.assignments == "*" or cl.assignments is None)
                        and icol in src_cols_all
                    )
                    if explicit or star_supplied:
                        raise ValueError(
                            f"{icol} is GENERATED ALWAYS AS IDENTITY — "
                            "MERGE may not assign it"
                        )
            if inserts is not None:
                inserts = self._assign_identity(
                    inserts.drop(*idcols), idcols
                )

        # Action counts were collected together with the touched-file
        # probe (one job); just aggregate the clause families.
        n_ins = sum(
            action_counts.get(f"insert{j}", 0) for j in range(len(insert_clauses))
        )
        del_actions = [f"delete{i}" for i, cl in enumerate(matched_clauses) if cl.kind == "delete"]
        upd_actions = [f"update{i}" for i, cl in enumerate(matched_clauses) if cl.kind == "update"]
        bs_del_actions = [
            f"{cl.kind}{i}"
            for i, cl in enumerate(by_source_clauses)
            if cl.kind == "delete_by_source"
        ]
        bs_upd_actions = [
            f"{cl.kind}{i}"
            for i, cl in enumerate(by_source_clauses)
            if cl.kind == "update_by_source"
        ]
        n_mat_del = sum(action_counts.get(a, 0) for a in del_actions)
        n_mat_upd = sum(action_counts.get(a, 0) for a in upd_actions)
        n_bs_del = sum(action_counts.get(a, 0) for a in bs_del_actions)
        n_bs_upd = sum(action_counts.get(a, 0) for a in bs_upd_actions)
        n_del = n_mat_del + n_bs_del
        n_upd = n_mat_upd + n_bs_upd

        # On a CDF-enabled table, survivors and inserts are staged
        # SEPARATELY: insert rows then live in files of their own,
        # flagged "ins" in the commit's add entries, and read_changes
        # synthesizes their change rows from those files — so the CDF
        # materialization below carries only the update/delete images
        # (O(changed rows)), never a second copy of every inserted row.
        # An insert-only merge (the initial CDC load) writes its data
        # exactly once and skips the CDF job entirely. Without CDF the
        # split buys nothing, so both parts ride one staged write.
        adds, written_rows = ([], 0)
        touched_total = 0
        if touched:
            # optimized write: output size is known exactly from the
            # log's per-file row counts — survivors = touched - deletes
            active_rows = {
                rel: a.get("rows", 0)
                for rel, a in self._state()["active"].items()
            }
            touched_total = sum(
                active_rows.get(self._rel_of(f), 0) for f in touched
            )
        # Provably-micro write jobs skip AQE's query-stage overhead:
        # both sizes are EXACT by now — the source from the plan probe
        # (every source row landed in one action count), the rewrite
        # from the log's per-file row counts — so the gate never
        # misfires on a big write (cf. the broadcast hint above).
        micro_jobs = (
            sum(action_counts.values()) <= 100_000
            and touched_total + n_ins <= 1_000_000
        )
        jobs_conf = MICRO_PLAN_CONF if micro_jobs else {}
        # ... and a provably-micro merge that pays a CDF job ANYWAY
        # (update/delete images present) rides its insert rows on ONE
        # unified staged write and materializes their change rows into
        # the sidecar it is already writing — one write action fewer
        # per micro-batch merge, identical feed content. At scale
        # (micro gate off) the split stays: inserts dominate big
        # merges and doubling their bytes into the sidecar is the
        # wrong trade there. Identity-bearing tables also keep the
        # split: generated ids must be evaluated by exactly ONE action
        # (the unified path would evaluate the insert projection in
        # both the data write and the CDF write).
        unify_inserts = (
            self.cdf_enabled()
            and n_ins > 0
            and micro_jobs
            and (n_del + n_upd) > 0
            and not idcols
        )
        split_inserts = (
            self.cdf_enabled() and n_ins > 0 and not unify_inserts
        )
        if split_inserts:
            if touched:
                with conf_scope(self.spark, jobs_conf):
                    adds, written_rows = self._stage_write(
                        self._align(
                            survivors, write_schema, keep=("__row_id",)
                        ),
                        expected_rows=touched_total - n_del,
                    )
            with conf_scope(self.spark, jobs_conf):
                ins_adds, ins_rows = self._stage_write(
                    self._align(inserts, write_schema), expected_rows=n_ins
                )
            for a in ins_adds:
                a["ins"] = True
            adds = adds + ins_adds
            written_rows += ins_rows
        elif touched or n_ins:
            if not touched and inserts is not None:
                # insert-only commit (e.g. empty-target fast path): the
                # survivors frame is provably empty — don't union its
                # (join-shaped) plan into the write
                new_data = self._align(inserts, write_schema)
            else:
                new_data = self._align(
                    survivors, write_schema, keep=("__row_id",)
                )
                if inserts is not None:
                    # inserts carry no __row_id (fresh ids derive from
                    # the new file's base); allowMissingColumns fills it
                    new_data = new_data.unionByName(
                        self._align(inserts, write_schema),
                        allowMissingColumns=True,
                    )
            with conf_scope(self.spark, jobs_conf):
                adds, written_rows = self._stage_write(
                    new_data, expected_rows=touched_total - n_del + n_ins
                )

        # 4. Change-data-feed rows for this commit (materialized:
        #    update/delete images touch a sparse subset, so
        #    synthesis-from-files can't express them; inserts are
        #    synthesized from the flagged files instead).
        cdf_rel = None
        pre_cols = [
            f"{target_or_null_sql(c)} AS `{_bq(c)}`" for c in tgt_cols
        ]
        cdf_parts = []
        if n_mat_del:
            d = s_joined.where(
                F.col("__action").isin(del_actions)
            ).selectExpr(*pre_cols)
            cdf_parts.append(
                self._align(d, write_schema).withColumn(CHANGE_TYPE, F.lit("delete"))
            )
        if n_mat_upd:
            upd_rows = s_joined.where(F.col("__action").isin(upd_actions))
            pre = upd_rows.selectExpr(*pre_cols)
            post = upd_rows.selectExpr(*post_exprs(True, False))
            cdf_parts.append(
                self._align(pre, write_schema).withColumn(
                    CHANGE_TYPE, F.lit("update_preimage")
                )
            )
            cdf_parts.append(
                self._align(post, write_schema).withColumn(
                    CHANGE_TYPE, F.lit("update_postimage")
                )
            )
        # by-source images come from the persisted target-sided probe
        # (bs_fired) — the source-sided S has no by-source rows
        if n_bs_del:
            d = bs_fired.where(
                F.col("__action").isin(bs_del_actions)
            ).selectExpr(*pre_cols)
            cdf_parts.append(
                self._align(d, write_schema).withColumn(
                    CHANGE_TYPE, F.lit("delete")
                )
            )
        if n_bs_upd:
            bsu = bs_fired.where(F.col("__action").isin(bs_upd_actions))
            cdf_parts.append(
                self._align(
                    bsu.selectExpr(*pre_cols), write_schema
                ).withColumn(CHANGE_TYPE, F.lit("update_preimage"))
            )
            cdf_parts.append(
                self._align(
                    bsu.selectExpr(*post_exprs(False, True)), write_schema
                ).withColumn(CHANGE_TYPE, F.lit("update_postimage"))
            )
        if unify_inserts and inserts is not None:
            # unified micro path: insert change rows ride the sidecar
            # the update/delete images are writing anyway (their file
            # copies are NOT ins-flagged, so read_changes never
            # synthesizes a second delivery). Deterministic across the
            # two consuming actions: inserts project the PERSISTED
            # planning frame.
            cdf_parts.append(
                self._align(inserts, write_schema).withColumn(
                    CHANGE_TYPE, F.lit("insert")
                )
            )
        if self.cdf_enabled() and cdf_parts:
            cdf_all = cdf_parts[0]
            for p in cdf_parts[1:]:
                cdf_all = cdf_all.unionByName(p)
            # the CDF materialization is O(changed rows) — micro
            # whenever the write jobs are (same exact-count gate)
            with conf_scope(self.spark, jobs_conf):
                cdf_rel = self._write_cdf(
                    cdf_all,
                    expected_rows=n_del
                    + 2 * n_upd
                    + (n_ins if unify_inserts else 0),
                )

        metrics = {
            "num_touched_files": len(touched),
            "num_deleted_rows": n_del,
            "num_updated_rows": n_upd,
            "num_inserted_rows": n_ins,
            "num_written_rows": written_rows,
        }
        v = snapshot_version + 1
        touched_rel = [self._rel_of(f) for f in touched]
        dvmap = self._state().get("dv") or {}
        lakelog.write_commit(
            self.path,
            Commit(
                version=v,
                operation="MERGE",
                timestamp_ms=lakelog.now_ms(),
                add=adds,
                remove=touched_rel + self._dv_release(touched_rel, dvmap),
                cdf_path=cdf_rel,
                schema_json=schema_json,
                properties={
                    **(
                        self._identity_hwm_props(
                            adds, self.identity_columns()
                        )
                        if adds and self.identity_columns()
                        else {}
                    ),
                    **(
                        {f"txn.{txn_app_id}": str(txn_version)}
                        if txn_app_id is not None
                        else {}
                    ),
                },
                metrics=metrics,
            ),
        )
        metrics["version"] = v
        self._maybe_auto_compact()
        return metrics

    # ------------------------------------------------------------- change feed

    def read_changes(
        self,
        starting_version: int = 0,
        ending_version: int | None = None,
        starting_timestamp_ms: int | None = None,
        ending_timestamp_ms: int | None = None,
    ) -> DataFrame:
        """Row-level change feed with ``_change_type``, ``_commit_version``,
        ``_commit_timestamp`` — the reference's ``table_changes('tbl', 1)``
        (``notebooks/demo-notebook.py:363-373``) and CDF streaming source
        (``:428-431``). Timestamp bounds mirror ``table_changes``'s
        startingTimestamp/endingTimestamp: a starting timestamp resolves to
        the first commit AT OR AFTER it, an ending timestamp to the last
        commit at or before it.
        """
        if starting_timestamp_ms is not None:
            commits_all = self._commits()
            later = [
                c.version for c in commits_all
                if c.timestamp_ms >= starting_timestamp_ms
            ]
            starting_version = later[0] if later else commits_all[-1].version + 1
        if ending_timestamp_ms is not None:
            ending_version = self.version_at_timestamp(ending_timestamp_ms)
        schema = self.schema()
        parts: list[DataFrame] = []
        # Deletion-vector state folded incrementally along the SAME commit
        # walk (the fold table_state performs) — one dict update per commit
        # instead of a full checkpoint-load + tail-replay per emitted
        # commit, keeping the feed's metadata cost O(commits).
        dv_state: dict = {}
        commits = self._commits()
        earliest = commits[0].version
        if earliest > 0:
            # log retention cleanup removed the prefix: change rows below
            # the boundary are gone — raise instead of a silently partial
            # feed, and seed the DV fold from the boundary checkpoint
            if starting_version < earliest:
                raise ValueError(
                    f"change feed starts at v{starting_version} but log "
                    f"retention cleanup kept v{earliest}+ only — read from "
                    f"v{earliest} or later"
                )
            dv_state = dict(self._state(earliest - 1).get("dv") or {})
        for c in commits:
            dv_before = dict(dv_state)
            for r in c.remove:
                dv_state.pop(r, None)
            for f_rel, dv_rel in c.dv.items():
                if dv_rel:
                    dv_state[f_rel] = dv_rel
                else:
                    dv_state.pop(f_rel, None)
            dv_after = dict(dv_state)
            if c.version < starting_version:
                continue
            if ending_version is not None and c.version > ending_version:
                break
            # APPEND/OVERWRITE changes are synthesized from the commit's file
            # list, but MERGE/DELETE row-level changes exist only if CDF was
            # enabled at commit time. A MERGE's insert rows live in files of
            # their own (add entries flagged "ins") and are synthesized like
            # an append; only update/delete images need the materialized
            # rows. Erroring beats a silently partial feed (inserts visible,
            # updates/deletes missing) — same contract as Delta's
            # table_changes on a non-CDF table.
            merge_ins_adds = (
                [a for a in c.add if a.get("ins")]
                if c.operation == "MERGE"
                else []
            )
            if (
                c.operation in ("MERGE", "DELETE", "REPLACE", "UPDATE")
                and c.cdf_path is None
                and (
                    [a for a in c.add if not a.get("ins")]
                    or c.remove
                    or c.dv
                    or (c.operation != "MERGE" and c.add)
                )
            ):
                raise ValueError(
                    f"change feed incomplete: commit v{c.version} is a "
                    f"{c.operation} without materialized change rows (enable "
                    "enableChangeDataFeed before writing, or read versions "
                    "outside this range)"
                )
            part = None
            if merge_ins_adds:
                files = [self._abs(a["path"]) for a in merge_ins_adds]
                part = self._read_files(files, dv_map=dv_after or None).withColumn(
                    CHANGE_TYPE, F.lit("insert")
                )
            if c.operation in (
                "APPEND", "COPY INTO", "CREATE", "OVERWRITE", "RESTORE",
                "CLONE",
            ) and c.add:
                files = [self._abs(a["path"]) for a in c.add]
                # RESTORE re-adds files whose restored deletion vector may
                # mask rows: read through the post-commit DV state so
                # DV-deleted rows don't resurface as inserts.
                part = self._read_files(files, dv_map=dv_after or None).withColumn(
                    CHANGE_TYPE, F.lit("insert")
                )
                # OVERWRITE/RESTORE also logically delete the removed files' rows.
            if c.operation in ("OVERWRITE", "RESTORE") and c.remove:
                # remove entries may include released DV sidecars — they are
                # bookkeeping for VACUUM, not data; and removed DATA files
                # are read through the PRE-commit DV state (already-deleted
                # rows must not be re-reported as deletes).
                data_rels = [r for r in c.remove if not r.startswith(DV_DIR + os.sep)]
                if data_rels:
                    removed = self._read_files(
                        [self._abs(r) for r in data_rels],
                        dv_map=dv_before or None,
                    ).withColumn(CHANGE_TYPE, F.lit("delete"))
                    part = removed if part is None else part.unionByName(removed)
            if c.operation == "RESTORE" and c.dv:
                # A restore can change ONLY a surviving file's deletion
                # vector (file in both snapshots, no add/remove entry):
                # rows the rollback unmasks are row-level INSERTs, rows it
                # re-masks are DELETEs. Without this branch those changes
                # were silently absent from the feed and CDF consumers
                # diverged from table state. Multiset diff per patched
                # file; RESTOREs are rare, and the cost is O(patched
                # files' rows), not O(table).
                added_paths = {a["path"] for a in c.add}
                removed_paths = set(c.remove)
                for rel in sorted(c.dv):
                    if rel in added_paths or rel in removed_paths:
                        continue  # already synthesized above
                    before_rows = self._read_files(
                        [self._abs(rel)],
                        dv_map={rel: dv_before[rel]} if rel in dv_before else None,
                    )
                    after_rows = self._read_files(
                        [self._abs(rel)],
                        dv_map={rel: dv_after[rel]} if rel in dv_after else None,
                    )
                    resurrected = after_rows.exceptAll(before_rows).withColumn(
                        CHANGE_TYPE, F.lit("insert")
                    )
                    remasked = before_rows.exceptAll(after_rows).withColumn(
                        CHANGE_TYPE, F.lit("delete")
                    )
                    diff = resurrected.unionByName(remasked)
                    part = diff if part is None else part.unionByName(diff)
            if c.cdf_path:
                # explicit schema (head PHYSICAL fields + change type):
                # schema-less read.parquet pays a footer-inference job per
                # sidecar per feed read. Parquet schema-on-read keeps the
                # semantics: a pre-ADD-COLUMN sidecar reads the new column
                # as NULL, a pre-DROP sidecar's stale column is unread —
                # exactly what the head-schema projection below produced.
                cdf_schema = StructType(
                    self._physical_schema(schema).fields
                    + [StructField(CHANGE_TYPE, StringType())]
                )
                cdf = self.spark.read.schema(cdf_schema).parquet(
                    self._abs(c.cdf_path)
                )
                ren = {
                    self._physical_name(f): f.name
                    for f in schema.fields
                    if self._physical_name(f) != f.name
                    and self._physical_name(f) in cdf.columns
                }
                if ren:
                    cdf = cdf.withColumnsRenamed(ren)
                # project onto the HEAD schema (Delta CDF semantics): a
                # change row materialized before an ADD COLUMN lacks the
                # new column (read NULL), one from before a DROP carries a
                # stale column (dropped) — without this the union across a
                # schema change throws and the whole feed is unreadable
                present = set(cdf.columns)
                cdf = cdf.select(
                    *[
                        (F.col(f.name) if f.name in present else F.lit(None))
                        .cast(f.dataType)
                        .alias(f.name)
                        for f in schema.fields
                    ],
                    F.col(CHANGE_TYPE),
                )
                part = cdf if part is None else part.unionByName(cdf)
            if part is not None:
                parts.append(
                    part.withColumn(COMMIT_VERSION, F.lit(c.version).cast("long")).withColumn(
                        COMMIT_TIMESTAMP,
                        F.timestamp_millis(F.lit(c.timestamp_ms)),
                    )
                )
        if not parts:
            # range(0)-backed for honest zero-size stats (see _read_files)
            empty = self.spark.range(0).select(
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in schema.fields
                ]
            )
            return (
                empty.withColumn(CHANGE_TYPE, F.lit(""))
                .withColumn(COMMIT_VERSION, F.lit(0).cast("long"))
                .withColumn(COMMIT_TIMESTAMP, F.current_timestamp())
                .limit(0)
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def changes_in_range(
        self, starting_version: int, ending_version: int
    ) -> bool | None:
        """Driver-side emptiness probe for the change feed over
        ``[starting_version, ending_version]``: ``True`` means
        :meth:`read_changes` yields rows (or raises its incomplete-feed
        error — that must surface, not be hidden as "empty"), ``False``
        means it is provably empty, ``None`` means undecidable from commit
        metadata alone (deletion-vector-masked files and RESTORE DV
        patches need a row-level look).

        This mirrors read_changes' part construction using only the log:
        add-entry row counts, cdf sidecar presence, and the folded DV
        state. The streaming reader uses it so per-micro-batch emptiness
        checks cost zero Spark jobs in the common case (~one job saved
        per commit replayed at catch-up).
        """
        dv_state: dict = {}
        rows_by_rel: dict[str, int | None] = {}
        undecided = False
        for c in self._commits():
            dv_before = dict(dv_state)
            for r in c.remove:
                dv_state.pop(r, None)
            for f_rel, dv_rel in c.dv.items():
                if dv_rel:
                    dv_state[f_rel] = dv_rel
                else:
                    dv_state.pop(f_rel, None)
            for a in c.add:
                rows_by_rel[a["path"]] = a.get("rows")
            if c.version < starting_version:
                continue
            if c.version > ending_version:
                break
            if c.cdf_path:
                # _write_cdf runs only when update/delete images exist
                return True
            if c.operation in ("MERGE", "DELETE", "REPLACE", "UPDATE") and (
                [a for a in c.add if not a.get("ins")]
                or c.remove
                or c.dv
                or (c.operation != "MERGE" and c.add)
            ):
                return True  # read_changes raises incomplete-feed here
            synth_adds = list(
                [a for a in c.add if a.get("ins")]
                if c.operation == "MERGE"
                else []
            )
            if (
                c.operation
                in ("APPEND", "COPY INTO", "CREATE", "OVERWRITE", "RESTORE",
                    "CLONE")
                and c.add
            ):
                synth_adds += c.add
            for a in synth_adds:
                rows = a.get("rows")
                if rows == 0:
                    continue
                if rows is None or a["path"] in dv_state:
                    undecided = True  # masked/unknown: needs a row look
                else:
                    return True
            if c.operation in ("OVERWRITE", "RESTORE") and c.remove:
                for r in c.remove:
                    if r.startswith(DV_DIR + os.sep):
                        continue
                    rows = rows_by_rel.get(r)
                    if rows == 0:
                        continue
                    if rows is None or r in dv_before:
                        undecided = True
                    else:
                        return True
            if c.operation == "RESTORE" and c.dv:
                added = {a["path"] for a in c.add}
                removed = set(c.remove)
                if any(rel not in added and rel not in removed for rel in c.dv):
                    undecided = True  # surviving-file DV patch: row diff
        return None if undecided else False
