"""Table-equivalence verification (E32) — the reference's post-copy check
(`CommonUtils.java:99-124`: file count, then per-file size, then
missing-on-dest) generalized to row content, with the symmetric diff the
reference lacked (it iterated the source map only, so dest-only extras
went undetected — SURVEY §2A semantics note 4).

Everything is a distributed aggregate: no collect of data rows, only of
the O(1) report and O(diff) samples.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Hive's directory name for the NULL partition value. Rows in this
# partition read back with a NULL key, so every keyed filter/groupBy
# must canonicalize NULL -> this sentinel or the partition becomes
# invisible to copy AND verification (r12 hostile-layout probe: migrate
# reported it copied, moved zero rows, and verified green).
DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def partition_key_str(part_col: str) -> F.Column:
    """The partition key as the string the DIRECTORY spells: NULL
    values map to Hive's default-partition sentinel."""
    return F.coalesce(F.col(part_col).cast("string"), F.lit(DEFAULT_PARTITION))


def _canon_col(df: DataFrame, name: str) -> F.Column:
    """Canonicalize a column to a stable string for row hashing
    (floats rounded to 9 dp to absorb codec round-trips, null sentinel)."""
    dt = df.schema[name].dataType.simpleString()
    c = F.col(name)
    if dt in ("double", "float"):
        c = F.format_number(c.cast("double"), 9)
    elif dt.startswith("timestamp"):
        c = F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
    elif dt.startswith("array") or dt.startswith("struct") or dt.startswith("map"):
        c = F.to_json(c)
    else:
        c = c.cast("string")
    return F.coalesce(c, F.lit("\x00NULL"))


def row_hash(df: DataFrame) -> F.Column:
    """64-bit content hash of a canonicalized row (JVM-side xxhash64)."""
    return F.xxhash64(*[_canon_col(df, c) for c in df.columns])


def _fingerprint_aggs(h: F.Column, prefix: str = "") -> list[F.Column]:
    """Row count, order-independent sum of row hashes ``h`` and distinct
    hash count, each aliased with ``prefix``."""
    return [
        F.count(F.lit(1)).alias(f"{prefix}n_rows"),
        # decimal sum: exact and overflow-safe under ANSI mode (Spark 4 default)
        F.sum(h.cast("decimal(38,0)")).alias(f"{prefix}content_sum"),
        F.count_distinct(h).alias(f"{prefix}n_distinct_rows"),
    ]


def fingerprint(df: DataFrame) -> DataFrame:
    """One-row content fingerprint: row count + order-independent XOR-free
    sum of row hashes (sum over int64 wraps identically everywhere) —
    a single scan, map-side partial aggregation."""
    return df.agg(*_fingerprint_aggs(row_hash(df)))


@dataclass
class VerifyReport:
    equal: bool
    src_rows: int
    dst_rows: int
    src_only: int
    dst_only: int
    sample_src_only: list = field(default_factory=list)
    sample_dst_only: list = field(default_factory=list)

    def render(self) -> str:
        if self.equal:
            return f"OK: {self.src_rows} rows match"
        return (
            f"MISMATCH: src={self.src_rows} dst={self.dst_rows} "
            f"src_only={self.src_only} dst_only={self.dst_only}"
        )


def verify_partitions(
    src: DataFrame, dst: DataFrame, part_col: str, keys: list[str] | None = None
) -> dict[str, VerifyReport]:
    """Per-partition fingerprint compare in TWO scans total (one per side),
    instead of 2×N jobs for N partitions — the batch path `migrate` uses.

    Each side is grouped by the partition key into (count, content-sum,
    distinct-hash) fingerprints; a full-outer join of the two tiny reports
    yields per-key equality. Mismatching keys should fall back to
    ``verify`` on that key's slice for the row-level diff.
    """

    def fp_by(df: DataFrame, prefix: str) -> DataFrame:
        d = df.select(*sorted(df.columns))
        k = partition_key_str(part_col)
        if keys is not None:
            d = d.where(k.isin([str(x) for x in keys]))
        h = row_hash(d.drop(part_col))
        return d.groupBy(k.alias("k")).agg(*_fingerprint_aggs(h, prefix))

    joined = (
        fp_by(src, "src_").join(fp_by(dst, "dst_"), "k", "full_outer").collect()
    )
    out: dict[str, VerifyReport] = {}
    for r in joined:
        sn = r["src_n_rows"] if r["src_n_rows"] is not None else 0
        dn = r["dst_n_rows"] if r["dst_n_rows"] is not None else 0
        equal = (
            r["src_n_rows"] is not None
            and r["dst_n_rows"] is not None
            and sn == dn
            and r["src_content_sum"] == r["dst_content_sum"]
            and r["src_n_distinct_rows"] == r["dst_n_distinct_rows"]
        )
        out[r["k"]] = VerifyReport(equal, sn, dn, 0 if equal else -1, 0 if equal else -1)
    return out


def verify(src: DataFrame, dst: DataFrame, sample: int = 5) -> VerifyReport:
    """Count compare, then symmetric multiset diff (EXCEPT ALL both ways).

    Scale: exceptAll is a single hash-partitioned anti-aggregation — one
    shuffle each way on the full row; for 100 TB tables prefer
    ``fingerprint``-level compare first and fall back to the diff only on
    mismatch (this function short-circuits the same way).
    """
    cols = sorted(src.columns)
    if sorted(dst.columns) != cols:
        return VerifyReport(
            False, -1, -1, -1, -1,
            sample_src_only=[f"schema mismatch: {src.columns} vs {dst.columns}"],
        )
    s, d = src.select(*cols), dst.select(*cols)

    # Cheap pass first (reference order: count, then content).
    fp_s, fp_d = fingerprint(s).collect()[0], fingerprint(d).collect()[0]
    if tuple(fp_s) == tuple(fp_d):
        return VerifyReport(True, fp_s["n_rows"], fp_d["n_rows"], 0, 0)

    src_only_df = s.exceptAll(d)
    dst_only_df = d.exceptAll(s)
    so, do = src_only_df.count(), dst_only_df.count()
    return VerifyReport(
        False,
        fp_s["n_rows"],
        fp_d["n_rows"],
        so,
        do,
        [tuple(r) for r in src_only_df.limit(sample).collect()],
        [tuple(r) for r in dst_only_df.limit(sample).collect()],
    )
