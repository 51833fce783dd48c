"""Engine-independent output checks.

Expected counts come from the generator's own rows; query results are
compared against DuckDB with the canonicalisation of
``scripts/check_parity.py``. Every check is one operation: the
benchmark's error rate is failed checks over attempted checks.
"""

from __future__ import annotations

import importlib.util
import os

from gen import CONTRACT_IDX, PAYMENT_IDX, REASON_IDX, SERVICE_IDX, Batch, Scenario


class Outcomes:
    def __init__(self) -> None:
        self.failures: list[str] = []
        self.attempted = 0

    def check(self, name: str, ok: bool, detail: object = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{name}: {detail}"[:300])
        return ok

    def equal(self, name: str, got: object, want: object) -> bool:
        return self.check(name, got == want, f"got {got!r}, want {want!r}")

    @property
    def failed(self) -> int:
        return len(self.failures)


# ---------------------------------------------------------------------------
# Warehouse runs
# ---------------------------------------------------------------------------


def dim_counts(rows: list[list[str]]) -> dict[str, int]:
    """Gold dimension sizes for a silver table holding ``rows``."""
    return {
        "dim_contract": len({r[CONTRACT_IDX].replace("Month-to-month", "Month-to-Month") for r in rows}),
        "dim_payment_method": len({r[PAYMENT_IDX] for r in rows}),
        "dim_churn_reason": len({r[REASON_IDX] or "n/a" for r in rows}),
        "dim_customer": len({r[0] for r in rows}),
        "dim_services": len({tuple(r[i] for i in SERVICE_IDX) for r in rows}),
    }


def expected_run(batch: Batch, known: dict[str, list[str]]) -> tuple[dict, dict[str, list[str]]]:
    """The ``run_warehouse`` report for ``batch`` delivered into a
    warehouse whose silver holds ``known`` (customer_id -> row), and
    the silver contents afterwards. Re-delivered IDs are dropped at
    staging, so only new clean rows reach bronze."""
    new = {cid: r for cid, r in batch.clean.items() if cid not in known}
    after = {**known, **new}
    n = len(after)
    report = {
        "staging": {
            "input": batch.rows,
            "rejected": batch.rejected,
            "staged": len(new),
            "dup_vs_bronze": len(batch.clean) - len(new),
        },
        "bronze": {"inserted": len(new), "updated": 0, "existing": len(known)},
        "silver_rows": n,
        "silver_clean": {"total": n, "removed": 0, "error_rate_pct": 0.0},
        "gold_dims": dim_counts(list(after.values())),
        "gold_fact_rows": n,
        "gold_gate": {"orphan_customer_keys": 0, "negative_tenure": 0, "negative_charges": 0},
        "status": "SUCCESS",
    }
    return report, after


def check_run(out: Outcomes, tag: str, report: dict, want: dict, batch: Batch) -> None:
    for key, value in want.items():
        out.equal(f"{tag}.{key}", report.get(key), value)
    statuses = {f["file"]: f["status"] for f in report.get("files", [])}
    for name in batch.files:
        out.equal(f"{tag}.file.{name}", statuses.get(name), "ARCHIVED")


def check_registry(out: Outcomes, wh, n_files: int) -> None:
    rows = wh.read("meta", "pipeline_file_metadata").select("file_name", "status").collect()
    out.equal("registry.files", len(rows), n_files)
    bad = [r["file_name"] for r in rows if r["status"] != "ARCHIVED"]
    out.check("registry.all_archived", not bad, f"not ARCHIVED: {bad[:5]}")


def check_reprocess(out: Outcomes, report: dict, sc: Scenario, n_fact: int) -> None:
    want = {
        "input": sc.fix.rows,
        "rejected": sc.fix.rejected,
        "upserted": sc.fix.rows - sc.fix.rejected,
        "gold_fact_rows": n_fact,
        "status": "SUCCESS",
    }
    for key, value in want.items():
        out.equal(f"reprocess.{key}", report.get(key), value)


def check_silver(out: Outcomes, wh, sc: Scenario, silver: dict[str, list[str]]) -> None:
    """Silver holds exactly the expected IDs, carries every corrected
    value, and none of the rejected corrections."""
    rows = wh.read("silver", "churn_raw").select(
        "customer_id", "tenure_in_months", "monthly_charges_amount"
    ).collect()
    ids = {r["customer_id"] for r in rows}
    out.equal("silver.rows", len(rows), len(silver))
    out.check("silver.ids", ids == set(silver), f"{len(ids ^ set(silver))} IDs differ")
    got = {r["customer_id"]: (r["tenure_in_months"], r["monthly_charges_amount"]) for r in rows}
    wrong = [cid for cid, v in sc.corrected.items() if got.get(cid) != v]
    out.check("silver.corrected_values", not wrong, f"{len(wrong)} corrections missing, e.g. {wrong[:3]}")
    leaked = [cid for cid in sc.fix.dirty_ids if cid in ids]
    out.check("silver.rejected_fixes_absent", not leaked, f"{leaked[:3]}")


def check_corpus(out: Outcomes, results: dict, expectations: set[str]) -> None:
    """Every corpus check that carries an expectation must pass."""
    for key in sorted(expectations):
        res = results.get(key, {})
        out.check(f"dq.{key}", res.get("passed") is True, res.get("skipped") or res.get("rows"))


# ---------------------------------------------------------------------------
# Catalog queries against DuckDB
# ---------------------------------------------------------------------------


def _load_parity(root: str):
    spec = importlib.util.spec_from_file_location(
        "check_parity", os.path.join(root, "scripts", "check_parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryOracle:
    """DuckDB answers for the catalog queries over one data directory,
    computed once; ``compare`` applies check_parity's canonical
    multiset comparison."""

    def __init__(self, root: str, data_dir: str, queries: dict, names: list[str]):
        import duckdb

        self.parity = _load_parity(root)
        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(data_dir)):
                if f.endswith(".parquet"):
                    con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'")
            self.answers = {}
            for n in names:
                sql = queries[n].oracle
                self.answers[n] = None if sql is None else con.execute(sql).fetchdf()
        finally:
            con.close()

    def compare(self, out: Outcomes, name: str, cols: list[str], rows: list) -> None:
        odf = self.answers[name]
        if odf is None:
            out.check(f"query.{name}", True)
            return
        tag = f"query.{name}"
        if not out.check(tag + ".schema", sorted(cols) == sorted(odf.columns), f"{cols} vs {list(odf.columns)}"):
            return
        if not out.equal(tag + ".rows", len(rows), len(odf)):
            return
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        mine = self.parity._multiset([list(r) for r in rows], order)
        theirs = sorted(
            (tuple(self.parity._canon(v) for v in r)
             for r in odf[[cols[i] for i in order]].itertuples(index=False, name=None)),
            key=lambda t: tuple(str(x) for x in t),
        )
        out.check(tag + ".values", mine == theirs, "values differ")
