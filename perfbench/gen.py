"""Seeded input generator for the benchmark, independent of the program.

The program under test only ever sees the files written here; nothing in
this module imports ``mini_data_platform_spark``. The same seed gives
byte-identical files (``python3 perfbench/gen.py --seed N --out DIR
--workload W`` and compare digests).

Two families:

* Sales files for the ingest workloads (CSV, NDJSON and typed parquet),
  with planted duplicate keys, dirty values covered by the cleaning rules,
  and invalid files of each quarantine reason. Alongside the files the
  generator returns the EXPECTED cleaned rows, computed by a reference
  model of the cleaning rules written here from their documented
  behaviour (trim + "nan"/"" -> NULL, null-on-failure dates, quantity
  via double then truncate with default 1, amount default 0.0, null keys
  dropped) and the keep-latest precedence (later file, then greatest
  ``sale_date`` with NULL winning, then later row).
* Star-schema tables (orders, lineitem, customer, part, events,
  documents, embeddings, ...) for the read workloads, in the layout the
  program's catalog reads (``<dir>/<table>.parquet``).

Ties the program documents as engine-defined (two rows of one key in one
file with equal or both-NULL dates) are never planted: the expectation
must be unambiguous under the documented rules.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

COLUMNS = ("sale_id", "sale_date", "customer_id", "product_id", "quantity", "amount")

#: sale dates are uniform over 2024 (whole seconds)
_EPOCH = np.datetime64("2024-01-01T00:00:00", "s")
_SPAN_S = 366 * 86400

#: the validator probes the first 50 rows of a CSV for parseable dates;
#: unparseable dates are planted only after this row in valid CSV files
_CSV_DATE_PROBE_ROWS = 60

#: invalid-file kinds, each mapping to the quarantine reason
#: ``validation_failed``
INVALID_KINDS = ("missing_column", "bad_date", "malformed_json")


def _sale_id(k: int) -> str:
    return f"S{k:09d}"


# --------------------------------------------------------------------- sales


@dataclass
class SalesFile:
    name: str
    fmt: str
    invalid: str | None = None
    #: expected cleaned rows of a valid file, in file order (null keys
    #: already dropped); columns = COLUMNS
    clean: pd.DataFrame | None = None


@dataclass
class SalesBatch:
    files: list[SalesFile] = field(default_factory=list)

    @property
    def valid(self) -> list[SalesFile]:
        return [f for f in self.files if f.invalid is None]

    @property
    def invalid(self) -> list[SalesFile]:
        return [f for f in self.files if f.invalid is not None]

    def survivors(self) -> pd.DataFrame:
        """Expected rows the batch upserts: one per key, by the
        keep-latest precedence over all valid files."""
        frames = []
        for rank, f in enumerate(sorted(self.valid, key=lambda f: f.name)):
            d = f.clean.copy()
            d["_rank"] = rank
            d["_row"] = np.arange(len(d))
            frames.append(d)
        if not frames:
            return pd.DataFrame(columns=list(COLUMNS))
        allrows = pd.concat(frames, ignore_index=True)
        # NULL date wins: sort it above every real date
        allrows["_date"] = allrows["sale_date"].fillna(pd.Timestamp.max)
        allrows = allrows.sort_values(["sale_id", "_rank", "_date", "_row"])
        out = allrows.drop_duplicates("sale_id", keep="last")
        return out[list(COLUMNS)].reset_index(drop=True)


def _dates(rng: np.random.Generator, n: int) -> np.ndarray:
    return _EPOCH + rng.integers(0, _SPAN_S, n).astype("timedelta64[s]")


def _base_rows(rng: np.random.Generator, keys: np.ndarray) -> dict:
    """Clean typed values for the given key ids."""
    n = len(keys)
    qty = rng.integers(1, 21, n)
    amount = np.round(rng.uniform(10, 500, n) * qty, 2)
    return {
        "sale_id": np.array([_sale_id(k) for k in keys], dtype=object),
        "sale_date": _dates(rng, n),
        "customer_id": np.array(
            [f"CUST-{c}" for c in rng.integers(1000, 10000, n)], dtype=object
        ),
        "product_id": np.array(
            [f"PROD-{p}" for p in rng.integers(100, 1000, n)], dtype=object
        ),
        "quantity": qty.astype(np.int64),
        "amount": amount,
    }


def _clean_str(v):
    """Reference model of the string hygiene rule (space trim, then
    "nan" and "" become NULL)."""
    if v is None:
        return None
    s = v.strip(" ")
    return None if s in ("nan", "") else s


def _clean_num(v, default, conv):
    s = _clean_str(v) if isinstance(v, str) else v
    if s is None:
        return default
    try:
        return conv(float(s))
    except ValueError:
        return default


def _clean_date(v):
    s = _clean_str(v) if isinstance(v, str) else v
    if s is None:
        return None
    if isinstance(s, str):
        try:
            if len(s) == 10:
                return np.datetime64(s + "T00:00:00", "s")
            if len(s) == 19 and s[10] == " ":
                return np.datetime64(s.replace(" ", "T"), "s")
        except ValueError:
            return None
        return None
    return s


def _plant(rng, base: dict, fmt: str, plain_date: np.ndarray) -> dict:
    """Raw column values with dirty cells planted. CSV/NDJSON cells are
    strings (None = empty/null); parquet is typed, so only NULLs and
    string-column dirt apply there."""
    n = len(base["sale_id"])
    raw = {
        "sale_id": base["sale_id"].copy(),
        "customer_id": base["customer_id"].copy(),
        "product_id": base["product_id"].copy(),
    }
    if fmt == "parquet":
        raw["sale_date"] = base["sale_date"].astype("datetime64[us]").astype(object)
        raw["quantity"] = base["quantity"].astype(object)
        raw["amount"] = base["amount"].astype(object)
    else:
        ds = np.datetime_as_string(base["sale_date"], unit="s").astype(object)
        raw["sale_date"] = np.array([d.replace("T", " ") for d in ds], dtype=object)
        raw["quantity"] = np.array([str(q) for q in base["quantity"]], dtype=object)
        raw["amount"] = np.array([f"{a:.2f}" for a in base["amount"]], dtype=object)
    kinds = rng.integers(0, 100, n)
    for i in np.nonzero(kinds < 12)[0]:
        k = int(kinds[i])
        if k == 0:  # null key, dropped by the cleaner
            raw["sale_id"][i] = [None, "nan", "   "][i % 3]
        elif k == 1:
            raw["sale_id"][i] = "  " + raw["sale_id"][i] + " "
        elif k == 2:
            raw["customer_id"][i] = " " + raw["customer_id"][i] + "  "
        elif k == 3:
            raw["customer_id"][i] = "nan"
        elif k == 4:
            raw["product_id"][i] = ""
        elif k == 5 and fmt != "parquet":
            raw["quantity"][i] = f"{base['quantity'][i]}.5"
        elif k == 6:
            raw["quantity"][i] = None if fmt == "parquet" else ["abc", "nan", " 7 "][i % 3]
        elif k == 7:
            raw["amount"][i] = None if fmt == "parquet" else ["abc", "nan", ""][i % 3]
        elif k in (8, 9, 10) and plain_date[i]:
            pass
        elif k in (8, 9):
            if fmt == "parquet":
                raw["sale_date"][i] = None
            elif fmt != "csv" or i >= _CSV_DATE_PROBE_ROWS:
                raw["sale_date"][i] = "not-a-date" if k == 8 else "nan"
        elif k == 10 and fmt != "parquet":
            raw["sale_date"][i] = raw["sale_date"][i][:10]  # bare date
        elif k == 11 and fmt != "parquet":
            raw["amount"][i] = " " + raw["amount"][i]
    return raw


def _expected(raw: dict) -> pd.DataFrame:
    """Cleaned rows (null keys dropped) from raw cells by the rule model."""
    keys = [_clean_str(v) for v in raw["sale_id"]]
    out = pd.DataFrame(
        {
            "sale_id": keys,
            "sale_date": pd.to_datetime(
                [_clean_date(v) for v in raw["sale_date"]]
            ).astype("datetime64[ns]"),
            "customer_id": [_clean_str(v) for v in raw["customer_id"]],
            "product_id": [_clean_str(v) for v in raw["product_id"]],
            "quantity": [_clean_num(v, 1, int) for v in raw["quantity"]],
            "amount": [_clean_num(v, 0.0, float) for v in raw["amount"]],
        }
    )
    out["quantity"] = out["quantity"].astype(np.int64)
    out["amount"] = out["amount"].astype(np.float64)
    return out[out["sale_id"].notna()].reset_index(drop=True)


#: header spellings for CSV files (the cleaner normalizes names, drops
#: extra columns and reorders); chosen per file from the seed
_HEADERS = (
    list(COLUMNS),
    ["SALE_ID", "Sale_Date", "customer_id", "product_id", "quantity", "amount"],
    ["amount", "quantity", "product_id", "customer_id", "sale_date", "sale_id"],
    [" sale_id ", "sale_date", "customer_id", "product_id", "quantity", "amount", "comment"],
)


def _write_csv(path: str, raw: dict, n: int, header: list[str]) -> None:
    cols = [h.strip().lower() for h in header]
    lines = [",".join(header)]
    for i in range(n):
        cells = []
        for c in cols:
            if c == "comment":
                cells.append("x")
                continue
            v = raw[c][i]
            cells.append("" if v is None else v)
        lines.append(",".join(cells))
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write("\n".join(lines) + "\n")


def _write_ndjson(path: str, raw: dict, n: int, malformed_at: int | None = None) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for i in range(n):
            if i == malformed_at:
                fh.write('{"sale_id": "S-broken", "sale_date": \n')
                continue
            fh.write(json.dumps({c: raw[c][i] for c in COLUMNS}) + "\n")


_PARQUET_SCHEMA = pa.schema(
    [
        ("sale_id", pa.string()),
        ("sale_date", pa.timestamp("us")),
        ("customer_id", pa.string()),
        ("product_id", pa.string()),
        ("quantity", pa.int32()),
        ("amount", pa.float64()),
    ]
)


def _write_parquet(path: str, raw: dict, drop: str | None = None) -> None:
    arrays = [pa.array(list(raw[c]), type=_PARQUET_SCHEMA.field(c).type) for c in COLUMNS]
    table = pa.Table.from_arrays(arrays, schema=_PARQUET_SCHEMA)
    if drop:
        table = table.drop_columns([drop])
    pq.write_table(table, path, compression="snappy")


def _write_file(
    rng, out_dir: str, name: str, fmt: str, keys: np.ndarray,
    plain_date: np.ndarray, invalid: str | None = None, header: int = 0,
) -> SalesFile:
    """One sales file; ``header`` picks the CSV header spelling."""
    base = _base_rows(rng, keys)
    raw = _plant(rng, base, fmt, plain_date)
    n = len(keys)
    path = os.path.join(out_dir, name)
    if fmt == "csv":
        cols = list(_HEADERS[header])
        if invalid == "missing_column":
            cols = [h for h in cols if h.strip().lower() != "amount"]
        if invalid == "bad_date":
            raw["sale_date"][int(rng.integers(0, min(n, 40)))] = "31/02/2024 25:61"
        _write_csv(path, raw, n, cols)
    elif fmt == "ndjson":
        _write_ndjson(path, raw, n, int(rng.integers(0, min(n, 90))) if invalid else None)
    else:
        _write_parquet(path, raw, "amount" if invalid else None)
    sf = SalesFile(name=name, fmt=fmt, invalid=invalid)
    if invalid is None:
        sf.clean = _expected(raw)
    return sf


def preload_table(seed: int, path: str, rows: int) -> pd.DataFrame:
    """The trickle target's initial contents (clean, typed, keys
    0..rows-1): one parquet file in the sink's table layout (UTC
    timestamps, int quantity), copied into place as the target table at
    each set-up. Returns the expected table."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    base = _base_rows(rng, np.arange(rows, dtype=np.int64))
    df = pd.DataFrame(
        {
            "sale_id": base["sale_id"],
            "sale_date": base["sale_date"].astype("datetime64[ns]"),
            "customer_id": base["customer_id"],
            "product_id": base["product_id"],
            "quantity": base["quantity"],
            "amount": base["amount"],
        }
    )
    table = pa.Table.from_pandas(
        df.assign(quantity=df["quantity"].astype(np.int32)), preserve_index=False
    ).cast(_PARQUET_SCHEMA.set(1, pa.field("sale_date", pa.timestamp("us", tz="UTC"))))
    pq.write_table(table, path, compression="snappy")
    return df


@dataclass
class TrickleState:
    """Keys the trickle target holds, so later batches can update them."""

    keys: np.ndarray
    next_key: int


def _batch_layout(files: int) -> list[tuple[str, int]]:
    """(format, CSV header spelling) of each file of a batch, before
    shuffling: about 1 in 12 NDJSON, 1 in 22 typed parquet, 1 in 22 CSV
    with another header spelling, the rest CSV with the canonical header.
    With at most 1 in 10 files invalid, a batch of 88 files keeps at
    least 64 valid canonical-header CSVs: one read-signature group large
    enough for the program's hardlink scan staging (its threshold is 64
    files), so the staged read and the persisted batch are exercised."""
    n_nd = max(1, files // 12)
    n_pq = max(1, files // 22)
    n_alt = max(1, files // 22)
    alt = [("csv", 1 + i % (len(_HEADERS) - 1)) for i in range(n_alt)]
    n_csv = files - n_nd - n_pq - n_alt
    return [("csv", 0)] * n_csv + alt + [("ndjson", 0)] * n_nd + [("parquet", 0)] * n_pq


#: the invalid-file kind planted in each format
_INVALID_BY_FORMAT = {
    "csv": ("missing_column", "bad_date"),
    "ndjson": ("malformed_json",),
    "parquet": ("missing_column",),
}


def trickle_batch(
    seed: int, index: int, out_dir: str, state: TrickleState,
    files: int = 88, rows: int = 80,
) -> SalesBatch:
    """One batch of ``files`` small files of ``rows`` rows each (CSV,
    NDJSON and typed parquet, mixed as :func:`_batch_layout` sets out).
    ~30% of rows update keys already in the table (sampled without
    replacement), ~4% duplicate a new key of the same or an earlier file,
    the rest are new. ~1 file in 10 is invalid, with every quarantine
    reason its format allows. Updates ``state`` in place."""
    rng = np.random.default_rng([seed, 3, index])
    os.makedirs(out_dir, exist_ok=True)
    layout = _batch_layout(files)
    layout = [layout[j] for j in rng.permutation(files)]
    bad = set(rng.choice(files, max(1, files // 10), replace=False).tolist())
    total = files * rows
    keys = np.arange(state.next_key, state.next_key + total, dtype=np.int64)
    plain_date = np.zeros(total, dtype=bool)
    order = rng.permutation(total)
    n_upd = min(int(total * 0.3), len(state.keys))
    upd_pos = order[:n_upd]
    keys[upd_pos] = rng.choice(state.keys, n_upd, replace=False)
    # duplicates of new keys: the copy sits later in the batch than its
    # source; neither row gets a dirty date, so no two rows of one key in
    # one file can tie on a NULL or truncated date
    dup_pos = np.sort(order[n_upd:n_upd + total // 25])
    dup_pos = dup_pos[dup_pos > 0]
    new_pos = np.setdiff1d(np.arange(total), np.concatenate([upd_pos, dup_pos]))
    for p in dup_pos:
        earlier = new_pos[new_pos < p]
        if len(earlier):
            src = earlier[int(rng.integers(0, len(earlier)))]
            keys[p] = keys[src]
            plain_date[[p, src]] = True
    batch = SalesBatch()
    landed = []
    for i in range(files):
        fmt, header = layout[i]
        kinds = _INVALID_BY_FORMAT[fmt]
        invalid = kinds[int(rng.integers(0, len(kinds)))] if i in bad else None
        sl = slice(i * rows, (i + 1) * rows)
        name = f"b{index:05d}_{i:03d}.{fmt}"
        batch.files.append(
            _write_file(rng, out_dir, name, fmt, keys[sl], plain_date[sl], invalid, header)
        )
        if invalid is None:
            landed.append(keys[sl])
    state.next_key += total
    if landed:
        state.keys = np.union1d(state.keys, np.concatenate(landed))
    return batch


def apply_upsert(table: pd.DataFrame, survivors: pd.DataFrame) -> pd.DataFrame:
    """Expected target after an upsert: batch rows replace equal keys."""
    keep = table[~table["sale_id"].isin(survivors["sale_id"])]
    return pd.concat([keep, survivors], ignore_index=True)


# -------------------------------------------------------------- star schema


_WORDS = (
    "spark batch stream table column row key value query join sort hash "
    "group agg filter scan window merge order part line customer data "
    "fast slow big small vector the a of index cache shuffle plan task "
    "stage job file"
).split()


def star_tables(seed: int, out_dir: str, scale: float, tables: tuple[str, ...]) -> dict[str, int]:
    """Write the star-schema tables the read workloads query, sized by
    ``scale`` (1.0 = 100k orders). Returns rows per table written."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(10_000 * scale))
    n_part = max(50, int(4_000 * scale))
    n_supp = max(10, int(500 * scale))
    n_ord = max(500, int(100_000 * scale))
    n_line = 4 * n_ord
    n_ev = max(500, int(60_000 * scale))
    day0 = np.datetime64("1995-01-01", "D")
    out: dict[str, int] = {}

    def write(name: str, cols: dict) -> None:
        if name in tables:
            pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
            out[name] = len(next(iter(cols.values())))

    write("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ).tolist(),
    })
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    sizes = ["small", "medium", "large", "jumbo"]
    kinds = ["ring", "bolt", "gear", "valve", "spring"]
    psz = rng.integers(0, len(sizes), n_part)
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{sizes[s]} {kinds[k]}" for s, k in zip(psz, rng.integers(0, 5, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 40, n_part)],
        "p_type": [sizes[s].upper() for s in psz],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2),
    })
    odays = day0 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": pa.array(odays.astype("datetime64[us]")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ).tolist(),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
        "l_shipdate": pa.array(
            (day0 + rng.integers(0, 2500, n_line).astype("timedelta64[D]")).astype(
                "datetime64[us]"
            )
        ),
    })
    ev_ts = np.sort(
        np.datetime64("2024-01-01T00:00:00", "us")
        + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")
    )
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts),
        "user_id": rng.integers(0, max(10, n_ev // 50), n_ev).astype(np.int64),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n_ev).tolist(),
        "value": np.round(rng.uniform(0, 200, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return out


def corpus_tables(seed: int, out_dir: str, docs: int, vectors: int, dim: int = 64) -> dict[str, int]:
    """Write ``documents`` (bag-of-words texts with some exact copies)
    and ``embeddings`` (isotropic unit vectors, some near-copies)."""
    rng = np.random.default_rng([seed, 5])
    os.makedirs(out_dir, exist_ok=True)
    words = np.array(_WORDS, dtype=object)
    texts = []
    for i in range(docs):
        if i > 10 and rng.random() < 0.01:  # planted exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
            continue
        texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 90)))]))
    pq.write_table(pa.table({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "de", "fr", "es", "zh"], docs).tolist(),
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(out_dir, "documents.parquet"))
    vec = rng.standard_normal((vectors, dim))
    near = rng.random(vectors) < 0.05
    src = rng.integers(0, vectors, vectors)
    vec[near] = vec[src[near]] + 0.3 * rng.standard_normal((int(near.sum()), dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": np.arange(vectors, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, vectors).astype(np.int32)),
    }), os.path.join(out_dir, "embeddings.parquet"))
    return {"documents": docs, "embeddings": vectors}


def tree_digest(root: str) -> str:
    """sha256 over every file's relative path and bytes under ``root``."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for fn in sorted(filenames):
            p = os.path.join(dirpath, fn)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS, Ctx, sizes

    ap = argparse.ArgumentParser(description="Write one workload's seeded inputs.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args(argv)
    ctx = Ctx(root=os.getcwd(), work=args.out, seed=args.seed, sizes=sizes(args.tiny))
    WORKLOADS[args.workload].generate(ctx)
    print(tree_digest(ctx.data))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
