"""The benchmark's workloads: fixtures, operations and output checks.

Each workload stages its fixture with pyarrow before the Spark session
exists, runs untimed warm-up operations, then timed operations one at a
time (a single closed-loop client). Outputs are checked against DuckDB
or the engine's own report outside the timed region.

Why these two (README.md has the detail):

* ``pipelines`` runs the paper's two tools back to back: the partition
  migrator (read, write, the footer health scan and verification
  dominate; query planning barely figures) and the small-file compactor
  (write-in-place, rename- and listing-heavy, driven by its own thread
  pool).
* ``query_mix`` runs declared queries: read-only, bound by driver work,
  job count and the Python lane, which the pipelines barely exercise.
"""

from __future__ import annotations

import calendar
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# Sums are compared as exact decimals: the same double always casts to
# the same decimal, whatever order the rows are added in.
DEC = "DECIMAL(38,6)"


@dataclass
class OpResult:
    """One operation: its wall and CPU seconds, the work it did in the
    workload's own unit, and the problems its output check found."""

    kind: str
    latency: float
    work: float
    problems: list[str] = field(default_factory=list)
    bytes_in: int = 0
    bytes_out: int = 0
    compacted: int = 0
    skipped: int = 0
    failed_parts: int = 0
    steps: dict[str, float] = field(default_factory=dict)
    cpu: float = 0.0


def data_bytes(root: str) -> int:
    """Bytes of the parquet data files under ``root`` (markers and
    checksum files excluded)."""
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def file_counts(rng: random.Random, n: int, low: int, high: int) -> list[int]:
    """``n`` files-per-directory counts spread evenly over [low, high] in a
    seeded order: the seed moves the layout, the total stays the same."""
    counts = [low + (high - low) * i // max(1, n - 1) for i in range(n)]
    rng.shuffle(counts)
    return counts


def _write_files(table: pa.Table, leaf: str, n_files: int) -> None:
    os.makedirs(leaf)
    bounds = [table.num_rows * i // n_files for i in range(n_files + 1)]
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(leaf, f"part-{i:05d}.parquet"))


def _sums(con, sql: str) -> dict:
    return {tuple(r[:-2]): (r[-2], r[-1]) for r in con.execute(sql).fetchall()}


# --- pipelines ---------------------------------------------------------------


class MigrateStep:
    """A Hive-layout ``lineitem`` warehouse, ``par_dt=yyyyMM`` (83 monthly
    partitions, 4-12 files each). The step migrates a seeded 12-month
    inclusive range into a fresh destination, then re-runs the same job,
    which must copy nothing and report every partition as a conflict.

    The files-per-month pattern is seeded but repeats every 12 months, so
    every range holds the same number of files (91), and ranges stop
    before the last month, which holds a few days of rows only: the seed
    moves which months and files an op touches, not how many."""

    table = "lineitem"
    months = 12

    def __init__(self, work: str, rng: random.Random) -> None:
        self.work = work
        self.rng = rng
        self.src_root = os.path.join(work, "src")
        self.n = 0

    def stage(self, con) -> None:
        li = pq.read_table(os.path.join(DATA, "lineitem.parquet"))
        keys = pc.strftime(li["l_shipdate"], format="%Y%m")
        self.keys = sorted(set(keys.to_pylist()))
        pattern = file_counts(self.rng, self.months, 4, 12)
        for i, k in enumerate(self.keys):
            n_files = pattern[i % self.months]
            leaf = os.path.join(self.src_root, self.table, f"par_dt={k}")
            _write_files(li.filter(pc.equal(keys, k)), leaf, n_files)
        self.con = con
        self.expected = _sums(
            con,
            f"SELECT strftime(l_shipdate, '%Y%m'), count(*), "
            f"sum(l_extendedprice::{DEC}) "
            f"FROM read_parquet('{DATA}/lineitem.parquet') GROUP BY 1",
        )

    def next_spec(self) -> tuple[str, str]:
        """A seeded inclusive date range covering exactly 12 partitions."""
        i = self.rng.randrange(len(self.keys) - self.months)
        first, last = self.keys[i], self.keys[i + self.months - 1]
        y, m = int(last[:4]), int(last[4:])
        end_day = calendar.monthrange(y, m)[1]
        return f"{first[:4]}-{first[4:]}-01", f"{last[:4]}-{last[4:]}-{end_day:02d}"

    def execute(self, spark, rec, spec: tuple[str, str]) -> dict:
        """The timed part: ``migrate`` and its re-run."""
        from hadoop_trans_spark.pipelines import MigrateJob, migrate

        self.n += 1
        dst_root = os.path.join(self.work, f"dst{self.n}")
        job = MigrateJob(self.src_root, dst_root, self.table, start=spec[0], end=spec[1])
        with rec.phase("pipelines.migrate", "migrate"):
            first = migrate(spark, job)
        with rec.phase("pipelines.migrate", "rerun"):
            rerun = migrate(spark, job)
        return {"spec": spec, "dst_root": dst_root, "first": first, "rerun": rerun}

    def check(self, ctx: dict) -> OpResult:
        spec, first, rerun = ctx["spec"], ctx["first"], ctx["rerun"]
        lo, hi = (d[:7].replace("-", "") for d in spec)
        want = [k for k in self.keys if lo <= k <= hi]
        problems = []
        if not first.ok or sorted(first.copied) != want or first.quarantined:
            problems.append(f"migrate {spec}: copied {first.copied} ok={first.ok}")
        if rerun.copied or sorted(rerun.conflicts) != want:
            problems.append(f"re-run {spec}: copied {rerun.copied}")
        dst = os.path.join(ctx["dst_root"], self.table)
        got = _sums(
            self.con,
            f"SELECT par_dt::VARCHAR, count(*), sum(l_extendedprice::{DEC}) "
            f"FROM read_parquet('{dst}/*/*.parquet', hive_partitioning = true) "
            f"GROUP BY 1",
        )
        if got != {(k,): self.expected[(k,)] for k in want}:
            problems.append(f"migrate {spec}: destination rows/sums differ from source")
        bytes_in = sum(
            data_bytes(os.path.join(self.src_root, self.table, f"par_dt={k}")) for k in want
        )
        bytes_out = data_bytes(dst)
        shutil.rmtree(ctx["dst_root"], ignore_errors=True)
        rows = sum(self.expected[(k,)][0] for k in want)
        return OpResult("migrate", 0.0, rows, problems, bytes_in=bytes_in, bytes_out=bytes_out)


class CompactStep:
    """A small-file ``events`` tree in the two-level layout
    ``par_dt=yyyyMMdd/event_type=...`` (the reference's ``-sp`` mode): 2
    seeded days x 5 event types = 10 leaves, 8-24 files each in a seeded
    layout. The step runs ``compact_table`` with the CLI defaults on a
    fresh copy of the pristine tree (copied untimed), then runs it again;
    the second pass must compact nothing."""

    days = 2

    def __init__(self, work: str, rng: random.Random) -> None:
        self.work = work
        self.rng = rng
        self.pristine = os.path.join(work, "pristine")
        self.n = 0

    def stage(self, con) -> None:
        ev = pq.read_table(os.path.join(DATA, "events.parquet"))
        day = pc.strftime(ev["ts"], format="%Y%m%d")
        days = sorted(self.rng.sample(sorted(set(day.to_pylist())), self.days))
        types = sorted(set(ev["event_type"].to_pylist()))
        self.leaves = [f"par_dt={d}/event_type={t}" for d in days for t in types]
        counts = file_counts(self.rng, len(self.leaves), 8, 24)
        for rel, n_files in zip(self.leaves, counts):
            d, t = (kv.split("=")[1] for kv in rel.split("/"))
            mask = pc.and_(pc.equal(day, d), pc.equal(ev["event_type"], t))
            part = ev.filter(mask).drop_columns(["event_type"])
            _write_files(part, os.path.join(self.pristine, "events", rel), n_files)
        self.con = con
        self.expected = self._leaf_sums(self.pristine)
        self.bytes_in = data_bytes(self.pristine)
        self.rows = sum(n for n, _ in self.expected.values())

    def _leaf_sums(self, root: str) -> dict:
        return _sums(
            self.con,
            f"SELECT par_dt::VARCHAR, event_type, count(*), sum(value::{DEC}) "
            f"FROM read_parquet('{root}/events/*/*/*.parquet', hive_partitioning = true) "
            f"GROUP BY 1, 2",
        )

    def prepare(self) -> str:
        self.n += 1
        root = os.path.join(self.work, f"tree{self.n}")
        shutil.copytree(self.pristine, root)
        return root

    def execute(self, spark, rec, root: str) -> dict:
        """The timed part: two passes of ``compact_table``."""
        from hadoop_trans_spark.pipelines import compact_table

        table = os.path.join(root, "events")
        with rec.phase("pipelines.compact.pass1", "pass1"):
            first = compact_table(spark, table)
        with rec.phase("pipelines.compact.pass2", "pass2"):
            second = compact_table(spark, table)
        return {"root": root, "first": first, "second": second}

    def check(self, ctx: dict) -> OpResult:
        root, first, second = ctx["root"], ctx["first"], ctx["second"]
        problems = []
        if first.failed or sorted(first.compacted) != sorted(self.leaves):
            problems.append(f"pass 1 compacted {len(first.compacted)}, failed {first.failed}")
        if second.compacted or second.failed:
            problems.append(f"pass 2 compacted {second.compacted}, failed {second.failed}")
        if self._leaf_sums(root) != self.expected:
            problems.append("per-leaf rows/sums changed by compaction")
        bytes_out = data_bytes(root)
        shutil.rmtree(root, ignore_errors=True)
        return OpResult(
            "compact",
            0.0,
            self.rows,
            problems,
            bytes_in=self.bytes_in,
            bytes_out=bytes_out,
            compacted=len(first.compacted),
            skipped=len(second.skipped),
            failed_parts=len(first.failed) + len(second.failed),
        )


class Pipelines:
    """Each op is one migrate step then one compact step, timed together;
    the work counted is the rows both steps read and rewrote."""

    name = "pipelines"
    # A run times at least this many ops, so that a slow machine does not
    # also change how many samples the median is taken over.
    min_ops = 3

    def __init__(self, work: str, rng: random.Random) -> None:
        self.migrate = MigrateStep(work, rng)
        self.compact = CompactStep(work, rng)

    def stage(self) -> None:
        con = duckdb.connect()
        self.migrate.stage(con)
        self.compact.stage(con)

    def next_spec(self) -> tuple[str, str]:
        return self.migrate.next_spec()

    def cycle_done(self) -> bool:
        return True

    def warm_up(self, spark, rec) -> list[OpResult]:
        """Two untimed, checked ops. The first op after JVM start costs 2-3x
        the CPU of later ones, and the second one still costs about 20 %
        more when other guests load the host; from the third op on, the
        CPU an op costs no longer depends on that load."""
        return [self.run(spark, rec, self.next_spec()) for _ in range(2)]

    def run(self, spark, rec, spec: tuple[str, str]) -> OpResult:
        root = self.compact.prepare()
        with rec.op("pipeline") as timer:
            t0 = time.perf_counter()
            m_ctx = self.migrate.execute(spark, rec, spec)
            t1 = time.perf_counter()
            c_ctx = self.compact.execute(spark, rec, root)
            t2 = time.perf_counter()
        m, c = self.migrate.check(m_ctx), self.compact.check(c_ctx)
        return OpResult(
            "pipeline",
            timer.latency,
            m.work + c.work,
            m.problems + c.problems,
            bytes_in=m.bytes_in + c.bytes_in,
            bytes_out=m.bytes_out + c.bytes_out,
            compacted=c.compacted,
            skipped=c.skipped,
            failed_parts=c.failed_parts,
            steps={"migrate": t1 - t0, "compact": t2 - t1},
            cpu=timer.cpu,
        )


# --- query_mix -------------------------------------------------------------

# One query per bottleneck: scan and aggregate (q01), a five-way star
# join planned on the driver (q05), a memoized MinHash pipeline (q40) and
# the Python lane (q229).
MIX = (
    "q01_pricing_summary",
    "q05_revenue_by_nation",
    "q40_minhash_lsh_neardup",
    "q229_spectral_dominant",
)


class QueryMix:
    """Declared queries under the noop-sink protocol of ``bench.py``
    (every output column is computed; ``count()`` would let Catalyst prune
    them), with the cross-query stage memo cleared before every op so that
    no timing depends on run order. The mix runs in whole cycles, each in
    a fresh seeded order. The first untimed warm-up cycle collects every
    query once and compares it with its DuckDB oracle."""

    name = "query_mix"
    min_ops = 5 * len(MIX)  # five samples of every query (see Pipelines)
    # Untimed cycles after the checked one: the CPU a query costs keeps
    # falling for minutes after JVM start, steeply over its first few runs.
    warm_cycles = 1

    def __init__(self, work: str, rng: random.Random) -> None:
        self.rng = rng
        self.pending: list[str] = []

    def stage(self) -> None:
        pass

    def cycle(self) -> list[str]:
        order = list(MIX)
        self.rng.shuffle(order)
        return order

    def next_spec(self) -> str:
        if not self.pending:
            self.pending = self.cycle()
        return self.pending.pop(0)

    def cycle_done(self) -> bool:
        return not self.pending

    def warm_up(self, spark, rec) -> list[OpResult]:
        from hadoop_trans_spark.operators.stage import clear_stage_memo
        from hadoop_trans_spark.queries import ORACLE, QUERIES
        from hadoop_trans_spark.testing.oracle import compare, duckdb_connect

        con = duckdb_connect(DATA)
        out = []
        for name in self.cycle():
            clear_stage_memo()
            t0 = time.perf_counter()
            res = compare(name, QUERIES[name](spark, DATA), con, ORACLE[name])
            problems = [] if res.match else [f"{name}: {res.detail}"]
            out.append(OpResult(name, time.perf_counter() - t0, 1, problems))
        for _ in range(self.warm_cycles):
            out += [self.run(spark, rec, name) for name in self.cycle()]
        return out

    def run(self, spark, rec, spec: str) -> OpResult:
        from hadoop_trans_spark.operators.stage import clear_stage_memo
        from hadoop_trans_spark.queries import QUERIES

        clear_stage_memo()
        with rec.op(spec) as timer:
            with rec.phase("queries.build", "build"):
                df = QUERIES[spec](spark, DATA)
            with rec.phase("queries.exec", "exec"):
                df.write.format("noop").mode("overwrite").save()
        return OpResult(spec, timer.latency, 1, cpu=timer.cpu)


WORKLOADS = {w.name: w for w in (Pipelines, QueryMix)}
