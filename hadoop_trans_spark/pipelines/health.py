"""Parquet container health scan — the file-grain quarantine tier.

r12 gave media PAYLOADS a quarantine contract (one truncated upload
costs one dead-lettered row, never the job — ``operators/multimodal
.validate_media``). This module is the same contract one level down,
at the CONTAINER-file boundary the r12 campaign did not reach (VERDICT
r12 item 5): a parquet file with a truncated/garbage footer inside a
partition being migrated would otherwise kill the ENTIRE distributed
copy job mid-write — at 100 TB that is an estate job lost to one bad
upload, and a retry hits the same file again.

Contract (quarantine-and-report):

  * every candidate data file's footer is validated BEFORE the copy
    reads it — executor-side, metadata-only (``pyarrow.parquet
    .ParquetFile`` parses the footer without touching data pages);
  * corrupt files are QUARANTINED: excluded from the read, recorded in
    the report with path + reason, and alerted loudly — never silently
    skipped (the r12 theme: silent loss under a green report is the
    failure class this tool exists to prevent);
  * verification then reads the SOURCE side through the same healthy
    file list, so the per-partition fingerprints reconcile exactly and
    the report says "equal, MINUS these named quarantined files" —
    an explicit, auditable statement instead of a crash or a lie.

The reference tool byte-copied files without parsing them
(``CommonUtils.java:59-72``), so a corrupt container rode through
silently; parsing copies inherit a crash instead. Both are wrong at
scale; the quarantine tier is the production answer.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import SparkSession

HEALTH_SCHEMA = "path string, ok boolean, reason string, schema string"
# footer key-value entry in which Spark stores the schema it wrote
SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def scan_parquet_health(
    spark: SparkSession, files: list[str]
) -> tuple[dict[str, str], list[dict]]:
    """Validate parquet footers of ``files``; returns ``(healthy,
    quarantined)``. ``healthy`` maps each healthy path, in path order,
    to a digest of its footer schema: the parquet schema plus Spark's
    row metadata, everything Spark derives the file's schema from, so
    files with equal digests read with equal schemas. Each quarantined
    entry is ``{"path": ..., "reason": ...}``.

    Executor-distributed: one footer open per file via pyarrow (no data
    pages read), partitioned across the cluster — the driver only
    collects the verdict rows (one per FILE, metadata-sized). Local
    ``file:`` URIs and any pyarrow-supported scheme (hdfs, s3) work;
    the URI's own filesystem is resolved per file.
    """
    if not files:
        return {}, []

    import pandas as pd

    def _check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import pyarrow.parquet as pq
        from pyarrow import fs as pafs

        for pdf in batches:
            rows: dict[str, list] = {"path": [], "ok": [], "reason": [], "schema": []}
            for uri in pdf["path"]:
                schema = ""
                try:
                    if uri.startswith("file:"):
                        fs_obj = pafs.LocalFileSystem()
                        rel = uri.split("file:", 1)[1]
                        while rel.startswith("//"):
                            rel = rel[1:]
                    else:
                        fs_obj, rel = pafs.FileSystem.from_uri(uri)
                    with fs_obj.open_input_file(rel) as fh:
                        meta = pq.ParquetFile(fh).metadata  # footer parse only
                    # the schema printout, minus its object-address line
                    text = str(meta.schema).partition("\n")[2].encode()
                    text += (meta.metadata or {}).get(SPARK_ROW_METADATA, b"")
                    schema = hashlib.sha256(text).hexdigest()
                    ok, reason = True, ""
                except Exception as exc:  # noqa: BLE001 — verdict, not crash
                    ok, reason = False, f"{type(exc).__name__}: {exc}"
                rows["path"].append(uri)
                rows["ok"].append(bool(ok))
                rows["reason"].append(reason)
                rows["schema"].append(schema)
            yield pd.DataFrame(rows)

    n = max(1, min(len(files), spark.sparkContext.defaultParallelism))
    verdicts = (
        spark.createDataFrame([(f,) for f in files], "path string")
        .repartition(n)
        .mapInPandas(_check, HEALTH_SCHEMA)
        .collect()
    )
    healthy = {r.path: r.schema for r in sorted(verdicts) if r.ok}
    quarantined = sorted(
        ({"path": r.path, "reason": r.reason} for r in verdicts if not r.ok),
        key=lambda d: d["path"],
    )
    return healthy, quarantined


def data_files(spark: SparkSession, root: str) -> list[str]:
    """All data files under ``root`` (recursively) that a Spark directory
    read of ``root`` would see — the candidate set for a health scan.
    Like Spark, it skips every path with a hidden name below ``root``:
    markers (_SUCCESS), checksums (.crc) and the temp dirs of unfinished
    writes (_temporary, .spark-staging-*), but not ``_col=value``
    partition dirs."""
    from . import fs

    def hidden(name: str) -> bool:
        return name.startswith(".") or (name.startswith("_") and "=" not in name)

    base = fs.qualify(spark, root)
    return [
        p
        for p, _ in fs.list_files(spark, root)
        if not any(hidden(n) for n in p[len(base) :].split("/"))
    ]
