"""Partition migration (reference parity: TransTablePartition +
TransWholeTablePartition, `/root/reference/src/main/java/cn/dianhun/hadoop/
TransTablePartition.java:43-166`, `TransWholeTablePartition.java:40-133`).

Behavioral contract preserved (SURVEY §2A semantics):
  1. date ranges inclusive of both endpoints,
  2. partition keys deduplicated and sorted ascending,
  3. destination conflicts skip (default) and processing continues,
  4. post-copy verification (upgraded: row-content, symmetric),
plus structured alerts instead of SMTP.

Architectural upgrade over the reference: the copy is ONE distributed
scan→sink job — no per-partition driver loop, no local staging of bytes
(`TransTablePartition.java:124,132` pumped every byte through the
driver's /data/tmp). At 100 TB: executors stream partition files
cluster-to-cluster; the only driver work is metadata (key enumeration +
FS listings).

One source read path: the table's data files are listed once and
footer-checked once (pipelines/health.py); corrupt files are
quarantined. The union schema comes from the healthy files table-wide,
the copy reads the healthy files of the copied partitions, and
verification fingerprints that same source DataFrame.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fs
from .alerts import Alert, AlertSink
from .health import data_files, scan_parquet_health
from .verify import (
    VerifyReport,
    partition_key_str,
    verify,
    verify_partitions,
)

# Joda → java.time pattern compatibility: the reference's `-pp` patterns
# (yyyyMM, yyyyMMdd) are valid Spark date_format patterns unchanged.


def enumerate_partition_keys(
    spark: SparkSession, start: str, end: str, pattern: str = "yyyyMM"
) -> list[str]:
    """R3 (`CommonUtils.java:151-163`): expand the inclusive [start, end]
    day range, format each day with the partition pattern, dedup + sort
    (the reference's TreeSet). Computed with Spark date functions so the
    pattern semantics are identical to what partition writers produce."""
    from datetime import date

    if date.fromisoformat(start) > date.fromisoformat(end):
        return []  # empty range → no work (Spark sequence would reject it)
    rows = (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.lit(start).cast("date"),
                    F.lit(end).cast("date"),
                    F.expr("interval 1 day"),
                )
            ).alias("d")
        )
        .select(F.date_format("d", pattern).alias("k"))
        .distinct()
        .orderBy("k")
        .collect()
    )
    return [r["k"] for r in rows]


def discover_partitions(spark: SparkSession, table_path: str, partition_name: str) -> list[str]:
    """R6 (`TransWholeTablePartition.java:158-165`): list `pn=value` child
    dirs of a table path; returns the values, sorted."""
    prefix = f"{partition_name}="
    return sorted(
        d[len(prefix):] for d in fs.list_dirs(spark, table_path) if d.startswith(prefix)
    )


@dataclass(frozen=True)
class MigrateJob:
    src_root: str  # source warehouse root (…/db)
    dst_root: str  # destination warehouse root
    table: str
    partition_name: str = "par_dt"  # reference `-pn`
    pattern: str = "yyyyMM"  # reference `-pp`
    start: str | None = None  # reference `-s` (None+None → whole table)
    end: str | None = None  # reference `-e`
    mode: str = "skip"  # conflict policy: skip | overwrite | fail
    verify_after: bool = True

    @property
    def src_path(self) -> str:
        return f"{self.src_root}/{self.table}"

    @property
    def dst_path(self) -> str:
        return f"{self.dst_root}/{self.table}"


@dataclass
class MigrateReport:
    copied: list[str] = field(default_factory=list)
    skipped_missing: list[str] = field(default_factory=list)
    conflicts: list[str] = field(default_factory=list)
    verify: dict[str, VerifyReport] = field(default_factory=dict)
    alerts: list[Alert] = field(default_factory=list)
    # corrupt source files excluded from the copy: {path, reason} each
    # (pipelines/health.py contract — reported, never silently skipped)
    quarantined: list[dict] = field(default_factory=list)
    # the partition keys the copy ATTEMPTED (post conflict policy, before
    # quarantine): unlike `copied`, this survives the every-candidate-
    # file-quarantined edge where src_df is None and copied resets to []
    # (ADVICE r14 — consumers enumerating "months the migrate covered"
    # must read this, not `copied`)
    to_copy: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return all(v.equal for v in self.verify.values())


@contextmanager
def raw_partition_values(spark: SparkSession):
    """Partition values are IDENTITY, not numbers. With Spark's default
    partition-column type inference, par_dt=01 and par_dt=1 both infer
    to int 1 — a migrate would silently RENAME zero-padded partition
    dirs (par_dt=02 → par_dt=2) and MERGE colliding ones (01 + 1 → 1),
    and the per-key verification, grouping by the same inferred value
    on both sides, cannot see it (hostile-layout probe find, r12).
    Every pipeline read of a Hive-partitioned layout runs with
    inference off so values round-trip byte-exactly. Inference happens
    at DataFrame CREATION (schema resolution), so only the reads need
    to sit inside this context, not the actions.

    Concurrency note (ADVICE r12): this toggles SESSION-scoped conf, so
    a concurrent read on the SAME SparkSession during the window would
    silently get inference disabled (or re-enabled mid-migrate by a
    competing context exit). The pipelines are single-threaded per
    session by design — the CLI owns its session — and nested use is
    safe (the restore is value-based, not stack-based, and both nesting
    levels set the same value). Callers embedding migrate() in a
    multi-threaded driver should hand it `spark.newSession()` so the
    conf mutation is isolated; per-read DataFrameReader options cannot
    express this knob (it is consulted at partition discovery, before
    reader options apply)."""
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    old = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def migrate(spark: SparkSession, job: MigrateJob, sink: AlertSink | None = None) -> MigrateReport:
    sink = sink or AlertSink()
    report = MigrateReport()
    pn = job.partition_name

    # 1. Work set: date-range enumeration (TransTablePartition) or full
    #    discovery (TransWholeTablePartition).
    src_existing = discover_partitions(spark, job.src_path, pn)
    if job.start and job.end:
        requested = enumerate_partition_keys(spark, job.start, job.end, job.pattern)
    else:
        requested = list(src_existing)

    # 2. Existence short-circuit (R8): requested keys missing at source are
    #    skipped with an alert (`TransTablePartition.java:119`).
    src_set = set(src_existing)
    for k in requested:
        if k not in src_set:
            report.skipped_missing.append(k)
            sink.emit(Alert("warning", "missing_source", job.table, k, "not present at source"))
    present = [k for k in requested if k in src_set]

    # 3. Conflict policy (R10, `TransTablePartition.java:126-131`): the
    #    reference skips + emails + continues. Metadata-only anti-join.
    dst_existing = set(discover_partitions(spark, job.dst_path, pn))
    conflicts = [k for k in present if k in dst_existing]
    if conflicts:
        report.conflicts = conflicts
        if job.mode == "fail":
            raise FileExistsError(
                f"{job.table}: destination partitions exist: {conflicts}"
            )
        if job.mode == "skip":
            for k in conflicts:
                sink.emit(Alert("error", "conflict", job.table, k, "exists at destination; skipped"))

    to_copy = present if job.mode == "overwrite" else [k for k in present if k not in dst_existing]
    report.to_copy = sorted(to_copy)
    src_df: DataFrame | None = None
    if to_copy:
        # 4. One source read, planned from one listing. Container health
        #    (r13, pipelines/health.py): every data file of the table is
        #    footer-checked once, so one truncated upload costs one
        #    quarantined FILE (reported + alerted) and never the copy
        #    job — a corrupt file outside the copy set too, since the
        #    schema merge below spans the whole table. Only files of the
        #    copied partitions are quarantine entries; the copy never
        #    touches the rest.
        base = fs.qualify(spark, job.src_path)
        in_copy = tuple(f"{base}/{pn}={k}/" for k in to_copy)
        healthy, quarantined = scan_parquet_health(spark, data_files(spark, job.src_path))
        report.quarantined = [q for q in quarantined if q["path"].startswith(in_copy)]
        for q in report.quarantined:
            sink.emit(
                Alert(
                    "error",
                    "corrupt_file",
                    job.table,
                    q["path"],
                    f"quarantined (excluded from copy): {q['reason']}",
                )
            )
        copy_files = [f for f in healthy if f.startswith(in_copy)]
        #    The file list selects the partitions, the NULL partition's
        #    __HIVE_DEFAULT_PARTITION__ dir included (its rows read back
        #    with a NULL key, which no value filter on the sentinel would
        #    match — r12 probe find). Inference off: the partition column
        #    stays the STRING the dir spells, so the destination layout
        #    is byte-identical; basePath keeps it resolvable from the
        #    dir layout. The schema is the mergeSchema union of every
        #    healthy file table-wide: a column that exists only in some
        #    partitions — possibly outside the copy set — reads as NULLs
        #    instead of being silently dropped (r12 schema-evolution
        #    find, ADVICE r13). Files with equal footer schemas add
        #    nothing to the merge, so it reads one file per schema.
        if copy_files:
            one_per_schema: dict[str, str] = {}
            for f, schema in healthy.items():
                one_per_schema.setdefault(schema, f)
            with raw_partition_values(spark):
                union_schema = (
                    spark.read.option("mergeSchema", "true")
                    .option("basePath", base)
                    .parquet(*one_per_schema.values())
                    .schema
                )
                src_df = (
                    spark.read.schema(union_schema)
                    .option("basePath", base)
                    .parquet(*copy_files)
                )
            # ONE distributed copy job; dynamic partition overwrite keeps
            # idempotent re-runs safe.
            writer = src_df.write.partitionBy(pn)
            if job.mode == "overwrite":
                writer = writer.mode("overwrite").option(
                    "partitionOverwriteMode", "dynamic"
                )
            else:
                writer = writer.mode("append")
            writer.parquet(job.dst_path)
            report.copied = sorted(to_copy)

    # 5. Post-copy verification (R11) per copied partition — row-content,
    #    both directions (upgrade over file-size compare). Batched: one
    #    grouped-fingerprint scan per side covers every copied partition;
    #    only mismatching keys pay for the row-level diff. The source
    #    side is the DataFrame the copy read — same healthy files, same
    #    union schema — so the fingerprints reconcile exactly and the
    #    report is "equal, minus the NAMED quarantined files": the
    #    quarantine entries carry the loss, verification proves the copy
    #    moved everything it was allowed to read.
    if job.verify_after and src_df is not None:
        with raw_partition_values(spark):
            dst_df = spark.read.option("mergeSchema", "true").parquet(job.dst_path)
        report.verify = verify_partitions(src_df, dst_df, pn, report.copied)
        for k, rep in report.verify.items():
            if not rep.equal:
                rep = verify(
                    src_df.where(partition_key_str(pn) == k),
                    dst_df.where(partition_key_str(pn) == k),
                )
                report.verify[k] = rep
                sink.emit(Alert("error", "verify_mismatch", job.table, k, rep.render()))

    report.alerts = list(sink.alerts)
    return report
