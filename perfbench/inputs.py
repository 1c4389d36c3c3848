"""Seeded input generators for the benchmark.

``write_tables`` writes the registry's ten parquet tables (TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``) with the
column names, types and value ranges the registry queries read.
``EmployeeDrops`` writes daily employee CSV drops in the reference's
conventions (header row, ``NULL`` sentinel, ``yyyy-MM-dd`` dates) and
keeps the roster each drop implies, which is what the job's current
views are checked against.

Both use numpy's ``default_rng(seed)`` only, so one seed always gives
byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_SEGMENTS = ("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
_PART_ADJ = ("small", "red", "hot", "old", "large", "blue", "green", "shiny")
_PART_NOUN = ("ring", "widget", "plate", "rod", "bolt", "gizmo", "nut", "gear")
_PART_TYPES = ("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _pick(rng, values, n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        words = rng.choice(len(_VOCAB), rng.integers(10, 101))
        texts.append(" ".join(_VOCAB[w] for w in words))
    # 5% near-duplicates (a trailing marker token) and 2% exact copies
    # of an earlier document feed the dedup queries.
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] += " dup" * int(rng.integers(1, 4))
    for i in rng.choice(np.arange(1, n), n // 50, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_pick(rng, _LANGS, n, _LANG_P), pa.string()),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 5, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def write_tables(out_dir: str, sf: float, seed: int = 42) -> None:
    """Write the ten registry tables at scale factor ``sf`` (lineitem
    has 6M x sf rows) into ``out_dir``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    price = np.round(900 + (np.arange(n_part) % 20_000) * 0.1, 2)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    l_part = rng.integers(0, n_part, n_line)
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)
    ).astype("timedelta64[us]")
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(_pick(rng, _SEGMENTS, n_cust), pa.string()),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, (n_part, 2))
            ], pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(_pick(rng, _PART_TYPES, n_part), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(price),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(_pick(rng, ("P", "O", "F"), n_ord), pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
            "o_orderpriority": pa.array(_pick(rng, _PRIORITIES, n_ord), pa.string()),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(l_part, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * price[l_part], 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(_pick(rng, ("R", "A", "N"), n_line), pa.string()),
            "l_linestatus": pa.array(_pick(rng, ("O", "F"), n_line), pa.string()),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_line)),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ev_ts),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": pa.array(_pick(rng, _EVENT_TYPES, n_ev), pa.string()),
            "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2))),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


EMP_COLS = (
    "snapshot_date",
    "employee_number",
    "status",
    "first_name",
    "last_name",
    "gender",
    "email",
    "phone_number",
    "salary",
    "termination_date",
)
# Attributes the current views must carry for every employee; the
# snapshot date is excluded because the full rebuild stamps the
# global maximum onto every current row.
ROSTER_ATTRS = EMP_COLS[2:]

_FIRST = ("Ann", "Bo", "Cy", "Di", "Ed", "Flo", "Gus", "Hal", "Ivy", "Jo")
_LAST = ("Ames", "Boyd", "Cole", "Diaz", "Egan", "Ford", "Gray", "Hale")


class EmployeeDrops:
    """Daily roster drops for ``n_emp`` employees over ``n_days`` days.

    Each day after the first has hires, leavers, persistent attribute
    changes and changes that are reverted the next day; half of a day's
    leavers return in the next drop.  With three days or more every
    kind of event occurs, and some employees seen in two drops are
    absent from the last one (the full rebuild's ``Deleted`` path);
    ``events`` counts each kind.  ``roster(day)`` is what the current
    views must hold after that day's drop is applied: every employee
    seen so far with their last-seen attributes, and whether they are
    absent from that drop.
    """

    def __init__(self, n_emp: int, n_days: int, seed: int):
        if n_days < 3:
            raise ValueError(f"{n_days} days cannot hold every kind of event; use 3 or more")
        rng = np.random.default_rng(seed)
        self.dates = [dt.date(2020, 1, 1) + dt.timedelta(days=d) for d in range(n_days)]
        people = {e: self._person(rng, e) for e in range(1, n_emp + 1)}
        next_id = n_emp + 1
        churn = max(1, n_emp // 100)
        active = set(people)
        returning: list[int] = []
        reverts: dict[int, tuple] = {}
        self.events = dict.fromkeys(("hire", "leave", "change", "revert", "return"), 0)
        self.drops: list[dict[int, tuple]] = []
        for day in range(n_days):
            if day:
                people.update(reverts)
                active.update(returning)
                self.events["revert"] += len(reverts)
                self.events["return"] += len(returning)
                for _ in range(churn):
                    people[next_id] = self._person(rng, next_id)
                    active.add(next_id)
                    next_id += 1
                pool = sorted(active)
                picks = rng.choice(len(pool), 4 * churn, replace=False)
                leavers = [pool[i] for i in picks[:churn]]
                changed = [pool[i] for i in picks[churn : 3 * churn]]
                reverted = [pool[i] for i in picks[3 * churn :]]
                active.difference_update(leavers)
                returning = leavers[: (churn + 1) // 2]
                for e in changed:
                    people[e] = self._changed(rng, people[e])
                reverts = {e: people[e] for e in reverted}
                for e in reverted:
                    people[e] = self._changed(rng, people[e])
                self.events["hire"] += churn
                self.events["leave"] += churn
                self.events["change"] += 2 * churn
            self.drops.append({e: people[e] for e in sorted(active)})
        # Leavers the full rebuild marks Deleted: absent from the last
        # drop after being listed in two or more.
        self.events["delete"] = sum(
            absent and n > 1 for _, absent, n in self.roster(n_days - 1).values())
        missing = [k for k, v in self.events.items() if not v]
        if missing:
            raise RuntimeError(f"no {', '.join(missing)} events in {n_days} days of {n_emp} employees")

    @staticmethod
    def _person(rng, e: int) -> tuple:
        first = _FIRST[int(rng.integers(len(_FIRST)))]
        last = _LAST[int(rng.integers(len(_LAST)))]
        phone = None if rng.random() < 0.05 else f"555-{int(rng.integers(10_000)):04d}"
        return (
            "Active",
            first,
            last,
            "F" if rng.random() < 0.5 else "M",
            f"{first.lower()}.{last.lower()}{e}@example.com",
            phone,
            int(rng.integers(30, 200)) * 1000,
            None,
        )

    @staticmethod
    def _changed(rng, row: tuple) -> tuple:
        out = list(row)
        field = int(rng.integers(3))
        if field == 0:
            out[6] += 1000 * int(rng.integers(1, 20))
        elif field == 1:
            out[2] = _LAST[(_LAST.index(out[2]) + 1) % len(_LAST)]
        else:
            out[5] = f"555-{int(rng.integers(10_000)):04d}"
        return tuple(out)

    def write_csv(self, day: int, path: str) -> int:
        """Write drop ``day`` as CSV; returns its size in bytes."""
        date = self.dates[day].isoformat()
        lines = [",".join(EMP_COLS)]
        for e, row in self.drops[day].items():
            vals = [date, str(e)] + ["NULL" if v is None else str(v) for v in row]
            lines.append(",".join(vals))
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        return os.path.getsize(path)

    def roster(self, day: int) -> dict[int, tuple]:
        """employee_number -> (last-seen attributes, absent from drop
        ``day``, number of drops up to ``day`` that list them)."""
        seen: dict[int, tuple] = {}
        sightings: dict[int, int] = {}
        for drop in self.drops[: day + 1]:
            seen.update(drop)
            for e in drop:
                sightings[e] = sightings.get(e, 0) + 1
        present = self.drops[day]
        return {e: (row, e not in present, sightings[e]) for e, row in seen.items()}
