"""Output checks. Each returns a list of problems; empty means correct.

Ingest: the target table, the quarantine prefixes and the audit rows are
compared with what the generator knows. Read queries: each distinct query
result is compared value-exactly with its DuckDB oracle, using the
multiset comparison of ``tools/verify_local.py``.
"""

from __future__ import annotations

import importlib.util
import os
import sqlite3

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench.gen import COLUMNS, SalesBatch


def read_target(target_dir: str) -> pd.DataFrame:
    return pq.read_table(target_dir).to_pandas()


def compare_table(actual: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """Value-exact comparison of two sales tables, ignoring row order."""
    if sorted(actual.columns) != sorted(COLUMNS):
        return [f"target columns {sorted(actual.columns)}"]
    if len(actual) != len(expected):
        return [f"target rows {len(actual)} != expected {len(expected)}"]
    a = actual.sort_values("sale_id", kind="stable").reset_index(drop=True)
    e = expected.sort_values("sale_id", kind="stable").reset_index(drop=True)
    problems = []
    for c in COLUMNS:
        av, ev = a[c], e[c]
        if c == "sale_date":
            av = pd.to_datetime(av).astype("datetime64[ns]")
            ev = pd.to_datetime(ev).astype("datetime64[ns]")
            same = (av.isna() & ev.isna()) | (av == ev)
        elif c in ("quantity", "amount"):
            same = (av.isna() & ev.isna()) | (av.astype("float64") == ev.astype("float64"))
        else:
            same = (av.isna() & ev.isna()) | (av.astype(object) == ev.astype(object))
        bad = np.flatnonzero(~same.to_numpy())
        if len(bad):
            i = int(bad[0])
            problems.append(
                f"{len(bad)} rows differ in {c}; first sale_id={e['sale_id'][i]!r} "
                f"got {a[c][i]!r} want {e[c][i]!r}"
            )
    return problems


def check_routing(
    batch: SalesBatch, incoming: str, processed: str, failed: str,
) -> list[str]:
    """Every invalid file in failed/validation_failed/, every valid one in
    processed/, nothing left in incoming/ or other failure prefixes."""
    problems = []

    def names(d: str) -> set[str]:
        return set(os.listdir(d)) if os.path.isdir(d) else set()

    want_bad = {f.name for f in batch.invalid}
    want_ok = {f.name for f in batch.valid}
    got_bad = names(os.path.join(failed, "validation_failed"))
    if not want_bad <= got_bad or (got_bad - want_bad) & want_ok:
        problems.append(f"quarantined {sorted(got_bad & (want_bad | want_ok))} want {sorted(want_bad)}")
    if not want_ok <= names(processed):
        problems.append(f"processed/ lacks {sorted(want_ok - names(processed))[:5]}")
    for reason in ("processing_failed", "loading_failed"):
        extra = names(os.path.join(failed, reason)) & (want_ok | want_bad)
        if extra:
            problems.append(f"{reason}/ holds {sorted(extra)[:5]}")
    left = names(incoming) & (want_ok | want_bad)
    if left:
        problems.append(f"incoming/ still holds {sorted(left)[:5]}")
    return problems


def check_audit(batch: SalesBatch, incoming: str, audit_db: str) -> list[str]:
    """One audit row per file: ``loaded`` with the file's cleaned row count,
    or ``validation_failed``."""
    con = sqlite3.connect(audit_db)
    try:
        rows = dict(
            (k, (s, n))
            for k, s, n in con.execute(
                "SELECT file_key, status, rows_processed FROM file_ingestion_log"
            )
        )
    finally:
        con.close()
    problems = []
    for f in batch.files:
        key = os.path.join(incoming, f.name)
        want = ("validation_failed", None) if f.invalid else ("loaded", len(f.clean))
        got = rows.get(key)
        if got is None or got[0] != want[0] or (want[1] is not None and got[1] != want[1]):
            problems.append(f"audit {f.name}: got {got} want {want}")
    return problems[:5]


def load_verify_local(root: str):
    """The repository's value-exact oracle comparison helpers."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_verify_local", os.path.join(root, "tools", "verify_local.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_answer(con, name: str, sql: str | None) -> tuple[list, list, str | None]:
    """(column names, rows, error) of one oracle query on DuckDB."""
    if sql is None:
        return [], [], "no oracle"
    try:
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall(), None
    except Exception as e:  # noqa: BLE001 — an oracle error fails the query
        return [], [], f"duckdb error {e}"


def check_query(vl, name: str, cols, rows, oracle) -> list[str]:
    """Compare one Spark result with its DuckDB oracle answer: column
    names, row count and the exact multiset of canonicalized values."""
    dcols, drows, err = oracle
    if err:
        return [f"{name}: {err}"]
    if sorted(cols) != sorted(dcols):
        return [f"{name}: columns {sorted(cols)} vs oracle {sorted(dcols)}"]
    if len(rows) != len(drows):
        return [f"{name}: rows {len(rows)} vs oracle {len(drows)}"]
    sm = vl.rows_to_multiset(list(cols), [tuple(r) for r in rows])
    dm = vl.rows_to_multiset(dcols, drows)
    if sm != dm:
        return [f"{name}: values differ, e.g. spark-only {list((sm - dm).items())[:2]}"]
    return []
