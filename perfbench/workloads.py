"""The benchmark's workloads.

Each workload turns its inputs into a list of operations for one pass,
plus the warm-up pass that verifies outputs.  An operation is timed
around ``run`` only; ``before`` (input staging) and ``check`` (output
verification) run untimed around it.

- ``registry``: registry queries consumed by a noop write.  One spends
  its time in the builder call (driver-side plan construction and the
  Spark jobs the builder runs eagerly), two in the consuming write
  (shuffles, windows, Python kernels), so the trace separates the two
  layers.
- ``scd_daily``: the employee-dimension job applying the last daily
  drop, full rebuild then incremental merge, writing parquet.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from inputs import ROSTER_ATTRS, EmployeeDrops, write_tables

# Builder-bound: most of its time is the builder call.
REGISTRY_BUILD = ("quality_classifier_scores",)
# Execution-bound: most of their time is the consuming write.
REGISTRY_EXEC = ("multimodal_jpeg_meta", "q21_last_shipper")
# Input sizes: registry tables at scale factor sf; scd_daily as
# (employees, days), where three days is the fewest that hold every
# kind of employee event.
SIZES = {
    "bench": {"sf": 0.01, "employees": 1000, "days": 3},
    "tiny": {"sf": 0.001, "employees": 300, "days": 3},
}


@dataclass
class Op:
    name: str
    run: Callable
    before: Callable | None = None
    check: Callable | None = None


def span(tracer, layer: str, name: str):
    return tracer.span(layer, name) if tracer else contextlib.nullcontext()


def _norm(v):
    """A cell normalized for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _canon(cols, rows):
    """Columns sorted by name, rows sorted by their full value tuple."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )
    return [cols[i] for i in order], out


class Registry:
    """Registry queries over generated tables, consumed by a noop write."""

    def __init__(self, spark, work: str, names, size: str):
        import __spark_entry__ as entry

        self.spark = spark
        self.names = list(names)
        self.data = os.path.join(work, "tables")
        self.sf = SIZES[size]["sf"]
        self.builders = entry.queries()
        self.oracles = entry.oracle_sql()

    def generate(self) -> None:
        # Fixed data seed: for these workloads the run seed only sets
        # the query order within a pass.
        write_tables(self.data, self.sf)

    def warmup_ops(self) -> list[Op]:
        """Each query once, collected and checked against the DuckDB
        oracle (which runs here, before any timing)."""
        import duckdb

        expected = {}
        with duckdb.connect() as con:
            for t in sorted(os.listdir(self.data)):
                con.execute(
                    f"CREATE VIEW {t.removesuffix('.parquet')} AS "
                    f"SELECT * FROM '{os.path.join(self.data, t)}'"
                )
            for name in self.names:
                if name in self.oracles:
                    rel = con.sql(self.oracles[name])
                    expected[name] = _canon(list(rel.columns), rel.fetchall())
        return [self._verified_op(name, expected.get(name)) for name in self.names]

    def _verified_op(self, name: str, expected) -> Op:
        got = []

        def run(tracer):
            df = self.builders[name](self.spark, self.data)
            got.append(_canon(df.columns, [tuple(r) for r in df.collect()]))

        def check():
            if not got:  # the run raised, which already counts
                return None
            cols, rows = got[0]
            if expected is None:
                return None if rows else "no rows"
            if cols != expected[0]:
                return f"columns {cols} vs {expected[0]}"
            if rows != expected[1]:
                diffs = [(a, b) for a, b in zip(rows, expected[1]) if a != b][:2]
                return f"rows {len(rows)} vs {len(expected[1])}, e.g. {diffs}"[:300]
            return None

        return Op(name, run, check=check)

    def ops(self, rng) -> list[Op]:
        order = list(self.names)
        rng.shuffle(order)
        return [Op(name, self._op(name)) for name in order]

    def _op(self, name: str):
        def run(tracer):
            with span(tracer, "registry", name):
                df = self.builders[name](self.spark, self.data)
            with span(tracer, "operators", name):
                df.write.format("noop").mode("overwrite").save()

        return run

    def stored_bytes_per_input_byte(self) -> float:
        return 0.0


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring Spark's markers."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


class ScdDaily:
    """The employee-dimension job over seeded daily CSV drops.

    Set-up brings the job to the eve of the last drop: one full rebuild
    over all earlier drops together, then one incremental merge per
    earlier day.  That state is kept, and every measured pass restores
    it and applies the last drop both ways.  The last drop is the one
    that holds every kind of event.
    """

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark = spark
        self.seed = seed
        self.size = SIZES[size]
        self.drops_dir = os.path.join(work, "drops")
        self.base = os.path.join(work, "job")
        self.inc_path = os.path.join(work, "incremental", "employee_current")
        self.state = os.path.join(work, "eve")
        self.drops = None
        self.input_bytes = 0

    def generate(self) -> None:
        self.drops = EmployeeDrops(self.size["employees"], self.size["days"], self.seed)
        os.makedirs(self.drops_dir, exist_ok=True)
        self.input_bytes = sum(
            self.drops.write_csv(d, self._drop(d)) for d in range(len(self.drops.dates))
        )

    def _drop(self, day: int) -> str:
        return os.path.join(self.drops_dir, f"{self.drops.dates[day].isoformat()}.csv")

    def warmup_ops(self) -> list[Op]:
        """The earlier days; every output is checked, as the last day's
        are in every measured pass."""
        last = len(self.drops.dates) - 1
        out = [Op("run:earlier", self._run, self._stage_earlier, self._check_full(last - 1))]
        for day in range(last):
            out.append(Op(f"run_incremental:{self._date(day)}", self._incremental(day),
                          None, self._check_incremental(day)))
        return out

    def ops(self, rng) -> list[Op]:
        last = len(self.drops.dates) - 1
        date = self._date(last)
        return [Op(f"run:{date}", self._run, self._stage_last, self._check_full(last)),
                Op(f"run_incremental:{date}", self._incremental(last), None,
                   self._check_incremental(last))]

    def _date(self, day: int) -> str:
        return self.drops.dates[day].isoformat()

    def _live(self) -> list[str]:
        return [self.base, os.path.dirname(self.inc_path)]

    def _stage_earlier(self) -> None:
        for p in self._live() + [self.state]:
            shutil.rmtree(p, ignore_errors=True)
        os.makedirs(os.path.join(self.base, "input"))
        for day in range(len(self.drops.dates) - 1):
            shutil.copy(self._drop(day), os.path.join(self.base, "input"))

    def _stage_last(self) -> None:
        """Keep the state the earlier days left on the first call;
        restore it on every later one.  Then stage the last drop."""
        for p in self._live():
            kept = os.path.join(self.state, os.path.basename(p))
            if not os.path.isdir(kept):
                shutil.copytree(p, kept)
            else:
                shutil.rmtree(p)
                shutil.copytree(kept, p)
        shutil.copy(self._drop(len(self.drops.dates) - 1), os.path.join(self.base, "input"))

    def _run(self, tracer):
        from pyspark_scd_spark.jobs import employee_dim

        with span(tracer, "jobs", "run"), _traced_job_calls(tracer):
            employee_dim.run(self.spark, self.base)

    def _incremental(self, day: int):
        def run(tracer):
            from pyspark_scd_spark.jobs import employee_dim
            from pyspark_scd_spark.profiles import EMP_SNAPSHOT_SCHEMA
            from pyspark_scd_spark.sources.readers import read_csv_snapshots

            with span(tracer, "jobs", "run_incremental"), _traced_job_calls(tracer):
                with span(tracer, "sources", "read_csv_snapshots"):
                    day_df, _ = read_csv_snapshots(self.spark, self._drop(day),
                                                   EMP_SNAPSHOT_SCHEMA)
                employee_dim.run_incremental(self.spark, day_df, self.inc_path)

        return run

    def _check_full(self, day: int):
        # The full rebuild keeps the reference's precedence: an
        # employee's first row is New even when it is also their last,
        # so only employees listed in two or more drops become Deleted.
        return lambda: self._check(
            os.path.join(self.base, "output", "employee_current"), day,
            lambda absent, sightings: absent and sightings > 1)

    def _check_incremental(self, day: int):
        # The merge marks every employee missing from the day's drop.
        return lambda: self._check(self.inc_path, day, lambda absent, _: absent)

    def _check(self, path: str, day: int, deleted) -> str | None:
        """The current view at ``path`` must hold the roster after
        ``day``: one row per employee ever seen, with their last-seen
        attributes, and ``Deleted`` exactly where ``deleted(absent,
        sightings)`` says."""
        import pyarrow.parquet as pq

        try:
            rows = pq.read_table(path).to_pylist()
        except (OSError, ValueError) as e:
            return f"unreadable output: {e}"[:300]
        got = {
            r["employee_number"]: (tuple(_norm(r[a]) for a in ROSTER_ATTRS),
                                   r["change_status"] == "Deleted")
            for r in rows
        }
        want = {e: (row, deleted(absent, n))
                for e, (row, absent, n) in self.drops.roster(day).items()}
        if len(rows) != len(got):
            return f"{len(rows) - len(got)} duplicate employee rows"
        if got != want:
            diff = [e for e in set(got) | set(want) if got.get(e) != want.get(e)]
            e = min(diff)
            return f"{len(diff)} employees differ, e.g. {e}: {got.get(e)} vs {want.get(e)}"
        return None

    def stored_bytes_per_input_byte(self) -> float:
        stored = _dir_bytes(os.path.join(self.base, "output"))[0]
        stored += _dir_bytes(os.path.dirname(self.inc_path))[0]
        return stored / self.input_bytes


@contextlib.contextmanager
def _traced_job_calls(tracer):
    """While tracing, wrap the calls the job module makes into the
    sources, scd and quality layers in spans."""
    if tracer is None:
        yield
        return
    from pyspark_scd_spark.jobs import employee_dim
    from pyspark_scd_spark.operators import scd

    targets = [
        (employee_dim, "read_csv_snapshots", "sources"),
        (employee_dim, "write_staged", "sources"),
        (employee_dim, "archive_files", "sources"),
        (employee_dim, "validate", "quality"),
        (scd, "union_snapshots", "scd"),
        (scd, "scd_apply", "scd"),
        (scd, "current_view", "scd"),
        (scd, "scd_merge", "scd"),
        (scd, "scd_bootstrap", "scd"),
    ]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
    for (mod, attr, layer), (_, _, fn) in zip(targets, saved):
        setattr(mod, attr, _wrapped(tracer, layer, attr, fn))
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def _wrapped(tracer, layer: str, name: str, fn):
    def call(*args, **kwargs):
        with tracer.span(layer, name) as s:
            out = fn(*args, **kwargs)
        if name == "write_staged":
            s.counts["bytes"], s.counts["files"] = _dir_bytes(out)
        return out

    return call


def make(name: str, spark, work: str, seed: int, size: str):
    if name == "registry":
        return Registry(spark, work, REGISTRY_BUILD + REGISTRY_EXEC, size)
    if name == "scd_daily":
        return ScdDaily(spark, work, seed, size)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("registry", "scd_daily")
