"""Table profiles: the engine's catalog of named tables.

Typed replacement for the reference's ``table_profiles`` dict of dicts
(reference configs/config.py:3-62): each profile carries the schema, the
storage paths, the primary-key columns (for quality gates), and —
new here — the partition columns used for scale-out layout.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


@dataclass(frozen=True)
class TableProfile:
    """Declarative description of one managed table.

    Mirrors the fields of the reference profile (input_path, output_path,
    schema, keys — reference configs/config.py:4-21) with additions:

    - ``partition_by``: at-rest partition columns. The reference writes
      one flat CSV via ``coalesce(1)`` (reference
      jobs/create_employee_all.py:191) — a single-task write that cannot
      scale; partitioned parquet is the 100 TB layout.
    - ``fmt``: parquet-first; CSV retained as an ingest format only.
    """

    name: str
    schema: T.StructType
    keys: tuple[str, ...]
    input_path: str = ""
    output_path: str = ""
    partition_by: tuple[str, ...] = ()
    fmt: str = "parquet"
    read_options: dict = field(default_factory=dict)

    def read(self, spark: SparkSession, path: str | None = None) -> DataFrame:
        p = path or self.input_path
        reader = spark.read.schema(self.schema)
        if self.fmt == "csv":
            opts = {
                "header": "true",
                "mode": "FAILFAST",
                "nullValue": "NULL",
                "dateFormat": "yyyy-MM-dd",
                **self.read_options,
            }
            return reader.options(**opts).csv(p)
        return reader.options(**self.read_options).format(self.fmt).load(p)

    def partition_values(self) -> list[str]:
        """Values of the first ``partition_by`` column present under
        ``input_path``, read off its ``<col>=<value>`` directory names
        on the driver: no Spark job and no file read. As in Spark's
        partition discovery, names are unescaped and Hive's NULL
        partition (``__HIVE_DEFAULT_PARTITION__``) yields no value."""
        prefix = f"{self.partition_by[0]}="
        with os.scandir(self.input_path) as entries:
            values = [
                unquote(d.name[len(prefix):])
                for d in entries
                if d.is_dir() and d.name.startswith(prefix)
            ]
        return [v for v in values if v != _HIVE_NULL_PARTITION]


_HIVE_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


# --- the reference's employee-roster data model, re-declared -----------
# Schema verbatim from reference configs/config.py:8-19; the derived
# tables add change_status (non-nullable, reference configs/config.py:37)
# and changed_status_date (reference configs/config.py:38).

_EMP_FIELDS = [
    T.StructField("snapshot_date", T.DateType(), True),
    T.StructField("employee_number", T.IntegerType(), True),
    T.StructField("status", T.StringType(), True),
    T.StructField("first_name", T.StringType(), True),
    T.StructField("last_name", T.StringType(), True),
    T.StructField("gender", T.StringType(), True),
    T.StructField("email", T.StringType(), True),
    T.StructField("phone_number", T.StringType(), True),
    T.StructField("salary", T.IntegerType(), True),
    T.StructField("termination_date", T.DateType(), True),
]

EMP_SNAPSHOT_SCHEMA = T.StructType(_EMP_FIELDS)

EMP_ALL_SCHEMA = T.StructType(
    _EMP_FIELDS
    + [
        T.StructField("change_status", T.StringType(), False),
        T.StructField("changed_status_date", T.DateType(), True),
    ]
)


def employee_profiles(base_dir: str) -> dict[str, TableProfile]:
    """The reference's three tables as profiles rooted at ``base_dir``."""
    return {
        "emp_snapshots": TableProfile(
            name="emp_snapshots",
            schema=EMP_SNAPSHOT_SCHEMA,
            keys=("snapshot_date", "employee_number"),
            input_path=f"{base_dir}/input/*.csv",
            output_path=f"{base_dir}/input/processed",
            fmt="csv",
        ),
        "employee_all": TableProfile(
            name="employee_all",
            schema=EMP_ALL_SCHEMA,
            keys=("snapshot_date", "employee_number"),
            input_path=f"{base_dir}/output/employee_all",
            output_path=f"{base_dir}/output/employee_all",
            partition_by=("snapshot_date",),
        ),
        "employee_current": TableProfile(
            name="employee_current",
            schema=EMP_ALL_SCHEMA,
            keys=("employee_number",),
            input_path=f"{base_dir}/output/employee_current",
            output_path=f"{base_dir}/output/employee_current",
        ),
    }
