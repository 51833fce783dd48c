"""Seeded input generators for the warehouse benchmark.

Two families, both deterministic in the seed and independent of the
engine:

- churn ingest CSVs in the IBM-Telco variant-A shape (FIXTURES.md §1):
  a day-1 full load, a day-2 delta (re-delivered plus new customer IDs)
  and one corrected file for the reprocessing loop. Dirty rows
  (FIXTURES.md §5) appear at a fixed rate. Each batch carries the facts
  the output checks need (which rows must survive, which must be
  rejected, which corrected values must reach silver), so the expected
  warehouse counts never come from the engine itself.
- TPC-H-style parquet tables (region … lineitem, events, documents,
  embeddings) with the schemas and value domains the catalog queries
  read, for the read-only query workload.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Variant-A raw header, as in tests/conftest.py:CSV_HEADER.
CSV_HEADER = (
    "Customer ID,Gender,Senior Citizen,Partner,Dependents,Country,State,City,"
    "Zip Code,Lat Long,Latitude,Longitude,Phone Service,Multiple Lines,"
    "Internet Service,Online Security,Online Backup,Device Protection,"
    "Tech Support,Streaming TV,Streaming Movies,Paperless Billing,"
    "Payment Method,Contract,Tenure Months,Monthly Charges,Total Charges,"
    "Churn Label,Churn Value,Churn Score,CLTV,Churn Reason"
)

# FIXTURES.md §1 domains.
GENDERS = ("Male", "Female")
YES_NO = ("Yes", "No")
CITIES = (
    ("California", "Los Angeles", 90003, 33.964131, -118.272783),
    ("California", "San Diego", 92101, 32.715736, -117.161087),
    ("California", "Fresno", 93650, 36.841530, -119.800210),
    ("California", "Sacramento", 95814, 38.581572, -121.494400),
    ("California", "San Jose", 95112, 37.338208, -121.886329),
)
INTERNET = ("DSL", "Fiber optic", "No")
PAYMENT = (
    "Electronic check",
    "Mailed check",
    "Bank transfer (automatic)",
    "Credit card (automatic)",
)
CONTRACT = ("Month-to-month", "One year", "Two year")
REASONS = (
    "Competitor made better offer",
    "Attitude of support person",
    "Price too high",
    "Moved",
    "Network reliability",
)

# FIXTURES.md §5 cases that the ingest rules reject. The duplicate pair
# is two rows (both flagged), so it counts twice.
DIRTY_CASES = ("missing_id", "neg_tenure", "text_tenure", "neg_charges", "bad_gender", "dup_pair")
# Domain violations only the reprocessing rules reject.
FIX_REJECT_CASES = ("bad_contract", "bad_payment", "bad_internet")

SERVICE_IDX = list(range(12, 21))  # phone_service .. streaming_movies
INTERNET_IDX, PAYMENT_IDX, CONTRACT_IDX = 14, 22, 23
TENURE_IDX, MONTHLY_IDX, TOTAL_IDX = 24, 25, 26
REASON_IDX = 31


@dataclass
class Batch:
    """One delivery: CSV texts plus the facts the checks need."""

    files: dict[str, str] = field(default_factory=dict)
    rows: int = 0
    rejected: int = 0
    # customer_id -> the clean row (list of raw string fields)
    clean: dict[str, list[str]] = field(default_factory=dict)
    dirty_ids: list[str] = field(default_factory=list)

    @property
    def csv_bytes(self) -> int:
        return sum(len(t.encode()) for t in self.files.values())

    def write(self, directory: str) -> None:
        os.makedirs(directory, exist_ok=True)
        for name, text in self.files.items():
            with open(os.path.join(directory, name), "w") as f:
                f.write(text)


@dataclass
class Scenario:
    """Day-1 load, day-2 delta and the corrected file for one seed."""

    day1: Batch
    day2: Batch
    fix: Batch
    # customer_id -> (tenure, monthly charges) the corrected file sets
    corrected: dict[str, tuple[int, float]]


def _csv_field(v: str) -> str:
    return f'"{v}"' if "," in v else v


class _IdSource:
    """Unique IBM-style customer IDs (`3668-QPYBK`): the letter block is
    the running counter in base 26, so IDs never repeat within a seed."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.n = 0

    def __call__(self) -> str:
        n, letters = self.n, []
        self.n += 1
        for _ in range(5):
            n, r = divmod(n, 26)
            letters.append(chr(65 + r))
        return f"{self.rng.randrange(10000):04d}-{''.join(reversed(letters))}"


def _clean_row(rng: random.Random, cid: str) -> list[str]:
    state, city, zip_code, lat, lon = rng.choice(CITIES)
    lat += rng.randrange(-5000, 5000) / 1e6
    lon += rng.randrange(-5000, 5000) / 1e6
    internet = rng.choice(INTERNET)
    phone = rng.choice(YES_NO)
    addon = (
        (lambda: "No internet service")
        if internet == "No"
        else (lambda: rng.choice(YES_NO))
    )
    tenure = rng.randrange(0, 73)
    monthly = round(rng.uniform(18.0, 120.0), 2)
    churn = rng.random() < 0.27
    return [
        cid,
        rng.choice(GENDERS),
        rng.choice(YES_NO),
        rng.choice(YES_NO),
        rng.choice(YES_NO),
        "United States",
        state,
        city,
        str(zip_code),
        f"{lat:.6f}, {lon:.6f}",
        f"{lat:.6f}",
        f"{lon:.6f}",
        phone,
        rng.choice(YES_NO) if phone == "Yes" else "No phone service",
        internet,
        addon(),
        addon(),
        addon(),
        addon(),
        addon(),
        addon(),
        rng.choice(YES_NO),
        rng.choice(PAYMENT),
        rng.choice(CONTRACT),
        str(tenure),
        f"{monthly:.2f}",
        f"{monthly * max(tenure, 1):.2f}",
        "Yes" if churn else "No",
        "1" if churn else "0",
        str(rng.randrange(5, 100)),
        str(rng.randrange(2000, 6500)),
        rng.choice(REASONS) if churn else "",
    ]


def _dirty_rows(rng: random.Random, new_id, case: str) -> list[list[str]]:
    row = _clean_row(rng, new_id())
    if case == "missing_id":
        row[0] = ""
    elif case == "neg_tenure":
        row[TENURE_IDX] = str(-rng.randrange(1, 12))
    elif case == "text_tenure":
        row[TENURE_IDX] = "abc"
    elif case == "neg_charges":
        row[MONTHLY_IDX] = f"-{rng.uniform(1, 50):.2f}"
    elif case == "bad_gender":
        row[1] = rng.choice(("Unknown", "M", "Alien"))
    elif case == "dup_pair":
        twin = list(row)
        twin[TENURE_IDX] = str(int(row[TENURE_IDX]) + 1)
        return [row, twin]
    elif case == "bad_contract":
        row[CONTRACT_IDX] = "Three year"
    elif case == "bad_payment":
        row[PAYMENT_IDX] = "Cash"
    elif case == "bad_internet":
        row[INTERNET_IDX] = "Satellite"
    else:
        raise ValueError(case)
    return [row]


def _batch(
    rng: random.Random,
    prefix: str,
    n_files: int,
    clean_rows: list[list[str]],
    n_dirty: int,
    cases: tuple[str, ...],
    new_id,
) -> Batch:
    """Spread clean rows and ``n_dirty`` dirty rows over ``n_files``
    CSVs. Dirty rows cycle through ``cases`` and always use fresh IDs,
    so they never collide with a clean row."""
    dirty: list[list[str]] = []
    for i in range(n_dirty):
        dirty.extend(_dirty_rows(rng, new_id, cases[i % len(cases)]))
    tagged = [(r, False) for r in clean_rows] + [(r, True) for r in dirty]
    rng.shuffle(tagged)
    batch = Batch(rows=len(tagged), rejected=len(dirty))
    batch.clean = {r[0]: r for r, bad in tagged if not bad}
    batch.dirty_ids = [r[0] for r in dirty]
    for f in range(n_files):
        part = tagged[f::n_files]
        lines = [",".join(_csv_field(v) for v in r) for r, _ in part]
        batch.files[f"{prefix}_{f:03d}.csv"] = CSV_HEADER + "\n" + "\n".join(lines) + "\n"
    return batch


def churn_scenario(
    seed: int,
    base_rows: int,
    base_files: int,
    delta_rows: int,
    delta_files: int,
    fix_rows: int,
    dirty_rate: float = 0.01,
) -> Scenario:
    """Generate the three deliveries for one seed.

    day 1: ``base_rows`` rows, ``dirty_rate`` of them dirty.
    day 2: ``delta_rows`` rows, half re-delivered day-1 IDs and half
    new IDs, ``dirty_rate`` dirty.
    fix: ``fix_rows`` corrected rows for day-1 IDs (new tenure and
    charges), plus ``dirty_rate`` rows failing the domain rules.
    """
    rng = random.Random(seed)
    new_id = _IdSource(rng)

    n_dirty = max(len(DIRTY_CASES), round(base_rows * dirty_rate))
    clean = [_clean_row(rng, new_id()) for _ in range(base_rows - n_dirty)]
    day1 = _batch(rng, "day1_churn", base_files, clean, n_dirty, DIRTY_CASES, new_id)

    base_ids = sorted(day1.clean)
    d_dirty = max(len(DIRTY_CASES), round(delta_rows * dirty_rate))
    n_old = (delta_rows - d_dirty) // 2
    old = [_clean_row(rng, cid) for cid in rng.sample(base_ids, n_old)]
    new = [_clean_row(rng, new_id()) for _ in range(delta_rows - d_dirty - n_old)]
    day2 = _batch(rng, "day2_churn", delta_files, old + new, d_dirty, DIRTY_CASES, new_id)

    f_dirty = max(len(FIX_REJECT_CASES), round(fix_rows * dirty_rate))
    corrected: dict[str, tuple[int, float]] = {}
    fixed_rows = []
    for cid in rng.sample(base_ids, fix_rows - f_dirty):
        row = list(day1.clean[cid])
        tenure = int(row[TENURE_IDX]) + rng.randrange(1, 13)
        monthly = round(rng.uniform(18.0, 120.0), 2)
        row[TENURE_IDX] = str(tenure)
        row[MONTHLY_IDX] = f"{monthly:.2f}"
        row[TOTAL_IDX] = f"{monthly * max(tenure, 1):.2f}"
        corrected[cid] = (tenure, monthly)
        fixed_rows.append(row)
    fix = _batch(rng, "fixed_churn", 1, fixed_rows, f_dirty, FIX_REJECT_CASES, new_id)
    return Scenario(day1, day2, fix, corrected)


# ---------------------------------------------------------------------------
# TPC-H-style tables for the catalog queries
# ---------------------------------------------------------------------------

_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group big "
    "sort query fast the"
).split()


def _ts(rng: np.random.Generator, start: str, days: int, n: int, sub_day: bool = False):
    base = np.datetime64(start, "us")
    if sub_day:
        off = rng.integers(0, days * 86_400_000_000, n)
    else:
        off = rng.integers(0, days, n) * 86_400_000_000
    return pa.array(base + off.astype("timedelta64[us]"), pa.timestamp("us"))


def write_tpch(out_dir: str, seed: int, n_orders: int) -> dict[str, int]:
    """Write the ten catalog tables for ``n_orders`` orders (about 4
    lineitems each) and return their row counts. Sizes follow the
    shipped sf0.01 ratios: 10 orders per customer, 150 per supplier."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(n_orders // 10, 50)
    n_supp = max(n_orders // 150, 20)
    n_part = max(n_orders * 2 // 15, 100)
    n_line = n_orders * 4
    n_events = max(n_orders * 2 // 3, 500)
    n_docs = max(n_orders // 30, 200)
    n_vecs = max(n_orders // 30, 200)
    pick = lambda vals, n: pa.array(np.asarray(vals, dtype=object)[rng.integers(0, len(vals), n)], pa.string())  # noqa: E731
    money = lambda lo, hi, n: pa.array(np.round(rng.uniform(lo, hi, n), 2))  # noqa: E731

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": pa.array(
                [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
                pa.string(),
            ),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], pa.string()),
            "p_type": pick(("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": pick(("F", "O", "P"), n_orders),
            "o_totalprice": money(1000.0, 500000.0, n_orders),
            "o_orderdate": _ts(rng, "1995-01-01", 2404, n_orders),
            "o_orderpriority": pick(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), n_orders),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float)),
            "l_extendedprice": money(900.0, 105000.0, n_line),
            "l_discount": pa.array(np.round(rng.integers(0, 11, n_line) / 100.0, 2)),
            "l_tax": pa.array(np.round(rng.integers(0, 9, n_line) / 100.0, 2)),
            "l_returnflag": pick(("A", "N", "R"), n_line),
            "l_linestatus": pick(("F", "O"), n_line),
            "l_shipdate": _ts(rng, "1995-01-02", 2498, n_line),
        }),
        "events": pa.table({
            "event_id": pa.array(range(n_events), pa.int64()),
            "ts": _ts(rng, "2024-01-01", 30, n_events, sub_day=True),
            "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
            "event_type": pick(("click", "error", "purchase", "signup", "view"), n_events),
            "value": money(0.01, 490.0, n_events),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], pa.string()),
        }),
    }
    tables["events"] = tables["events"].sort_by("ts")

    # Document lengths are a shuffle of a fixed list, so the total text
    # the similarity queries tokenise does not vary by seed.
    lengths = rng.permutation(np.resize(np.arange(8, 100), n_docs))
    texts: list[str] = []
    for i in range(n_docs):
        if i % 20 == 19:
            # every 20th document near-duplicates an earlier one (one
            # token replaced), so pair-finding work does not vary by seed
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = "dup"
        else:
            toks = [_WORDS[j] for j in rng.integers(0, len(_WORDS), int(lengths[i]))]
        texts.append(" ".join(toks))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pick(("en", "en", "en", "de", "es", "fr", "zh"), n_docs),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(0.0, 1.0, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
